package graft.relational

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.GraftSqlBridge.{materialize, release}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.llm.Bsp
import graft.ops._
import graft.schemas.Contracts
import graft.streaming.Streams

/** The relational query surface (SURVEY.md §2.5) plus the reference's
  * pipeline operators (§2.3/2.4) demonstrated over the driver testdata,
  * each with a DuckDB oracle.
  *
  * Oracle-parity rules used throughout (see ops.Exact):
  * - every checked aggregate goes through exact DECIMAL, final cast to double;
  * - every output has a deterministic total ORDER BY (NULLS FIRST to match
  *   Spark's asc default);
  * - counts are BIGINT on both sides; ratios are one double division of
  *   exact integers.
  */
object RelQueries {
  type Q = (SparkSession, String) => DataFrame
  private def t(s: SparkSession, d: String, n: String) = Tables(s, d, n)
  /** State partitions for a stream drained over the events input. */
  private def sized(s: SparkSession, d: String) =
    Streams.sizedPartitions(s, s"$d/events.parquet")

  // ---- shared exact-decimal fragments (Spark side) ----
  private def qty = Exact.dec(col("l_quantity"), 10)
  private def price = Exact.dec(col("l_extendedprice"), 10)
  private def disc = Exact.dec(col("l_discount"), 4)
  private def tax = Exact.dec(col("l_tax"), 4)
  private def revenue = price * (Exact.one - disc)
  private def sumRevenue = Exact.sumProduct(price, Exact.one - disc)

  /** `families` stacked hashLongSubquery chains over `src`: unsigned
    * hashes xxhash64(lit(i), keyCol) land in columns h0..h(families-1).
    * Reduce them mod a POWER OF TWO at the use site, so the signed pmod
    * and the unsigned remainder agree — see ops.Sketches. The
    * linear-chain replacement for the retired inline xxLongMod macro —
    * same Spark parity, ~1 KB of text per family instead of ~250 KB,
    * each step evaluated once per row instead of ~1000x. */
  private def xxLongModChain(src: String, keepCols: Seq[String],
      keyCol: String, families: Int): String =
    (0 until families).foldLeft(src) { case (inner, i) =>
      graft.llm.XxHashOracle.hashLongSubquery(inner,
        keepCols ++ (0 until i).map(j => s"h$j"),
        s"CAST($keyCol AS HUGEINT)",
        s"CAST(${graft.llm.XxHashOracle.familySeed(i)} AS HUGEINT)", s"h$i")
    }

  // oracle fragments (DuckDB side)
  private val oQty = "CAST(l_quantity AS DECIMAL(10,2))"
  private val oPrice = "CAST(l_extendedprice AS DECIMAL(10,2))"
  private val oOne = "CAST(1 AS DECIMAL(3,2))"
  private val oDisc = "CAST(l_discount AS DECIMAL(4,2))"
  private val oTax = "CAST(l_tax AS DECIMAL(4,2))"
  private val oRev = s"$oPrice * ($oOne - $oDisc)"

  // Shared SQL for the correlated-subquery queries (q59/q60): the SAME text
  // runs on Spark and DuckDB, so the oracle checks the decorrelation, not a
  // hand-translated twin.
  private val q21Sql = """
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier, lineitem l1, orders
    WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
      AND o_orderstatus = 'F' AND l1.l_returnflag = 'R'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 10"""

  private val q2MinSql = """
    SELECT c_custkey, c_name, c_acctbal
    FROM customer c
    WHERE c_acctbal = (SELECT MIN(c2.c_acctbal) FROM customer c2
                       WHERE c2.c_nationkey = c.c_nationkey)
    ORDER BY c_custkey"""

  // NOT EXISTS carries a predicate ("no urgent order") because this
  // testdata gives every customer at least one order — the classic
  // "no orders at all" form would be trivially empty at every SF. The
  // "country code" is the LAST two name characters: the prefix is the
  // constant 'Cu' for every Customer#N row, which would collapse the
  // rollup to one group and leave the grouping untested.
  private val q22Sql = """
    SELECT cntrycode, COUNT(*) AS numcust,
      CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
    FROM (SELECT substring(c_name, length(c_name) - 1, 2) AS cntrycode, c_acctbal
          FROM customer c
          WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
                                    / COUNT(*)
                             FROM customer WHERE c_acctbal > 0.0)
            AND NOT EXISTS (SELECT 1 FROM orders o
                            WHERE o.o_custkey = c.c_custkey
                              AND o.o_orderpriority = '1-URGENT'))
    GROUP BY cntrycode ORDER BY cntrycode"""

  // Bag-semantics set ops over order-priority multisets: the two branches
  // overlap with different multiplicities, so ALL vs DISTINCT results
  // genuinely differ and multiplicity preservation is what gets checked.
  private val setAllSql = """
    SELECT op, COUNT(*) AS n FROM (
      (SELECT o_orderpriority AS op FROM orders WHERE o_orderkey % 2 = 0
       INTERSECT ALL
       SELECT o_orderpriority FROM orders WHERE o_orderkey % 3 = 0)
      UNION ALL
      (SELECT o_orderpriority FROM orders WHERE o_orderkey % 2 = 0
       EXCEPT ALL
       SELECT o_orderpriority FROM orders WHERE o_orderkey % 3 = 0))
    GROUP BY op ORDER BY op"""

  /** (name, implementation, oracle SQL — None => driver rows-only check) */
  // lazy: moreEntries is declared further down — a plain val would read
  // null during object init (the q121 lesson).
  lazy val entries: Seq[(String, Q, Option[String])] = baseEntries ++ moreEntries

  private lazy val baseEntries: Seq[(String, Q, Option[String])] = Seq(

    // §2.5 aggregation — TPC-H Q1-shaped pricing summary (also P8 cast).
    ("q01_agg_pricing_summary", (s: SparkSession, d: String) => {
      t(s, d, "lineitem")
        .filter(col("l_shipdate") <= lit("2000-12-31"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          Exact.sum(qty).cast("double").as("sum_qty"),
          Exact.sum(price).cast("double").as("sum_base_price"),
          sumRevenue.cast("double").as("sum_disc_price"),
          Exact.sumProduct(revenue, Exact.one + tax).cast("double").as("sum_charge"),
          (Exact.sum(qty).cast("double") / count(lit(1))).as("avg_qty"),
          (Exact.sum(price).cast("double") / count(lit(1))).as("avg_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }, Some(s"""
      SELECT l_returnflag, l_linestatus,
        CAST(SUM($oQty) AS DOUBLE) AS sum_qty,
        CAST(SUM($oPrice) AS DOUBLE) AS sum_base_price,
        CAST(SUM($oRev) AS DOUBLE) AS sum_disc_price,
        CAST(SUM($oRev * ($oOne + $oTax)) AS DOUBLE) AS sum_charge,
        CAST(SUM($oQty) AS DOUBLE) / COUNT(*) AS avg_qty,
        CAST(SUM($oPrice) AS DOUBLE) / COUNT(*) AS avg_price,
        COUNT(*) AS count_order
      FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-31'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""")),

    // §2.5 joins — star join, small dims broadcast explicitly.
    ("q02_join_broadcast_star", (s: SparkSession, d: String) => {
      val o = t(s, d, "orders"); val c = t(s, d, "customer")
      val n = t(s, d, "nation"); val r = t(s, d, "region")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(Exact.sumD(col("o_totalprice")).as("revenue"),
          count(lit(1)).as("n_orders"))
        .orderBy("r_name", "n_name")
    }, Some("""
      SELECT r_name, n_name,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
        COUNT(*) AS n_orders
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name, n_name ORDER BY r_name, n_name""")),

    // §2.5 joins — fact x fact shuffle join (sort-merge at scale).
    ("q03_join_shuffle_fact", (s: SparkSession, d: String) => {
      val li = t(s, d, "lineitem"); val o = t(s, d, "orders")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(sumRevenue.cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("o_orderpriority")
    }, Some(s"""
      SELECT o_orderpriority,
        CAST(SUM($oRev) AS DOUBLE) AS revenue, COUNT(*) AS n_items
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // §2.5 joins — left_semi (EXISTS).
    ("q04_join_semi", (s: SparkSession, d: String) => {
      val o = t(s, d, "orders"); val li = t(s, d, "lineitem")
      o.join(li.filter(col("l_quantity") >= 45).select("l_orderkey"),
          o("o_orderkey") === col("l_orderkey"), "left_semi")
        .select("o_orderkey", "o_orderstatus")
        .orderBy("o_orderkey")
    }, Some("""
      SELECT o_orderkey, o_orderstatus FROM orders
      WHERE EXISTS (SELECT 1 FROM lineitem
                    WHERE l_orderkey = o_orderkey AND l_quantity >= 45)
      ORDER BY o_orderkey""")),

    // §2.5 joins — left_anti (NOT EXISTS; D2/D3 idempotence building block).
    // Customers without any high-value order (plain no-orders is empty in
    // this data — every custkey appears in orders).
    ("q05_join_anti", (s: SparkSession, d: String) => {
      val c = t(s, d, "customer"); val o = t(s, d, "orders")
      c.join(o.filter(col("o_totalprice") > 300000).select("o_custkey"),
          c("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    }, Some("""
      SELECT c_custkey, c_name FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey AND o_totalprice > 300000)
      ORDER BY c_custkey""")),

    // §2.5 window — top-k per group via row_number.
    ("q06_window_topk_group", (s: SparkSession, d: String) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, d, "orders")
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
        .orderBy("o_custkey", "rn")
    }, Some("""
      SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS BIGINT) AS rn
      FROM (SELECT o_custkey, o_orderkey, o_totalprice,
              row_number() OVER (PARTITION BY o_custkey
                                 ORDER BY o_totalprice DESC, o_orderkey) AS rn
            FROM orders)
      WHERE rn <= 3 ORDER BY o_custkey, rn""")),

    // §2.5 window — running frame (rowsBetween).
    ("q07_window_running_sum", (s: SparkSession, d: String) => {
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "lineitem")
        .withColumn("running_qty", sum(qty).over(w).cast("double"))
        .select("l_suppkey", "l_orderkey", "l_linenumber", "running_qty")
        .orderBy("l_suppkey", "l_orderkey", "l_linenumber")
    }, Some(s"""
      SELECT l_suppkey, l_orderkey, l_linenumber,
        CAST(SUM($oQty) OVER (PARTITION BY l_suppkey
          ORDER BY l_shipdate, l_orderkey, l_linenumber
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_qty
      FROM lineitem ORDER BY l_suppkey, l_orderkey, l_linenumber""")),

    // §2.5 window — lag (month-over-month delta, the Bil52/Bil54 use case).
    ("q08_window_lag_mom", (s: SparkSession, d: String) => {
      val m = t(s, d, "orders")
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
        .agg(Exact.sumD(col("o_totalprice")).as("rev"))
      val w = Window.orderBy(col("month"))
      m.withColumn("prev_rev", lag(col("rev"), 1).over(w))
        .withColumn("delta", col("rev") - col("prev_rev"))
        .orderBy("month")
    }, Some("""
      WITH m AS (SELECT strftime(o_orderdate, '%Y-%m') AS month,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS rev
        FROM orders GROUP BY 1)
      SELECT month, rev, lag(rev) OVER (ORDER BY month) AS prev_rev,
        rev - lag(rev) OVER (ORDER BY month) AS delta
      FROM m ORDER BY month""")),

    // §2.5 aggregation — rollup.
    ("q09_agg_rollup", (s: SparkSession, d: String) => {
      t(s, d, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), Exact.sum(qty).cast("double").as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    }, Some(s"""
      SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        CAST(SUM($oQty) AS DOUBLE) AS sum_qty
      FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
      ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""")),

    // §2.5 aggregation — cube.
    ("q10_agg_cube", (s: SparkSession, d: String) => {
      t(s, d, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          Exact.sumD(col("o_totalprice")).as("sum_price"))
        .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
    }, Some("""
      SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
      FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
      ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""")),

    // §2.5 aggregation — exact distinct counts (approx variant is spec-only:
    // HLL estimates are engine-specific by construction).
    ("q11_agg_distinct", (s: SparkSession, d: String) => {
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("nd_part"),
          countDistinct(col("l_suppkey")).as("nd_supp"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    }, Some("""
      SELECT l_returnflag,
        CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS nd_part,
        CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS nd_supp,
        COUNT(*) AS n
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // §2.5 sort/limit — global top-k with deterministic tiebreak.
    ("q12_sort_topk_global", (s: SparkSession, d: String) => {
      t(s, d, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    }, Some("""
      SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""")),

    // §2.5 set ops — intersect / except / union.
    ("q13_setops", (s: SparkSession, d: String) => {
      val n = t(s, d, "nation")
      val custNations = n.join(t(s, d, "customer"),
        n("n_nationkey") === col("c_nationkey")).select("n_name").distinct()
      val suppNations = n.join(t(s, d, "supplier"),
        n("n_nationkey") === col("s_nationkey")).select("n_name").distinct()
      custNations.intersect(suppNations).select(lit("both").as("side"), col("n_name"))
        .unionByName(custNations.except(suppNations)
          .select(lit("cust_only").as("side"), col("n_name")))
        .orderBy("side", "n_name")
    }, Some("""
      SELECT side, n_name FROM (
        SELECT 'both' AS side, n_name FROM (
          SELECT DISTINCT n_name FROM nation JOIN customer ON c_nationkey = n_nationkey
          INTERSECT
          SELECT DISTINCT n_name FROM nation JOIN supplier ON s_nationkey = n_nationkey)
        UNION ALL
        SELECT 'cust_only' AS side, n_name FROM (
          SELECT DISTINCT n_name FROM nation JOIN customer ON c_nationkey = n_nationkey
          EXCEPT
          SELECT DISTINCT n_name FROM nation JOIN supplier ON s_nationkey = n_nationkey))
      ORDER BY side, n_name""")),

    // §2.3 P2/P6-style scalar string transforms.
    ("q14_scalar_string", (s: SparkSession, d: String) => {
      t(s, d, "part").select(
          col("p_partkey"),
          upper(col("p_name")).as("name_up"),
          substring(col("p_type"), 1, 5).as("type5"),
          length(col("p_name")).cast("long").as("name_len"),
          concat(col("p_brand"), lit("#"), col("p_size").cast("string")).as("brand_size"),
          element_at(split(col("p_type"), " "), 1).as("type_head"),
          regexp_extract(col("p_name"), "[a-z]+", 0).as("first_word"))
        .orderBy("p_partkey")
    }, Some("""
      SELECT p_partkey, upper(p_name) AS name_up, substr(p_type, 1, 5) AS type5,
        CAST(length(p_name) AS BIGINT) AS name_len,
        p_brand || '#' || CAST(p_size AS VARCHAR) AS brand_size,
        split_part(p_type, ' ', 1) AS type_head,
        regexp_extract(p_name, '[a-z]+') AS first_word
      FROM part ORDER BY p_partkey""")),

    // §2.3 P9 — date/time formatting and arithmetic.
    ("q15_scalar_datetime", (s: SparkSession, d: String) => {
      t(s, d, "events").select(
          col("event_id"),
          date_format(col("ts"), "yyyy-MM-dd'T'HH:mm").as("stamp"),
          date_format(col("ts"), "yyyy-MM-dd").as("day"),
          hour(col("ts")).cast("long").as("hr"),
          date_format(col("ts") + expr("INTERVAL 1 DAY"), "yyyy-MM-dd").as("next_day"))
        .orderBy("event_id")
    }, Some("""
      SELECT event_id, strftime(ts, '%Y-%m-%dT%H:%M') AS stamp,
        strftime(ts, '%Y-%m-%d') AS day,
        CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hr,
        strftime(ts + INTERVAL 1 DAY, '%Y-%m-%d') AS next_day
      FROM events ORDER BY event_id""")),

    // §2.3 P2 — JSON extraction (props payload) + aggregation.
    ("q16_json_extract_agg", (s: SparkSession, d: String) => {
      t(s, d, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy(col("event_type"))
        .agg(sum(col("k")).as("sum_k"), count(lit(1)).as("n"))
        .orderBy("event_type")
    }, Some("""
      SELECT event_type,
        CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        COUNT(*) AS n
      FROM events GROUP BY event_type ORDER BY event_type""")),

    // §2.5 joins — range join (equi key + interval predicate).
    ("q17_range_join", (s: SparkSession, d: String) => {
      val li = t(s, d, "lineitem"); val o = t(s, d, "orders")
      li.join(o, li("l_orderkey") === o("o_orderkey") &&
          li("l_shipdate") >= o("o_orderdate") &&
          li("l_shipdate") < o("o_orderdate") + expr("INTERVAL 30 DAY"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    }, Some("""
      SELECT o_orderpriority, COUNT(*) AS n
      FROM lineitem JOIN orders
        ON l_orderkey = o_orderkey
       AND l_shipdate >= o_orderdate
       AND l_shipdate < o_orderdate + INTERVAL 30 DAY
      GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // §2.5 — as-of join via union + single window pass (ops.AsOf):
    // for each purchase, the user's latest view at-or-before it.
    ("q18_asof_join", (s: SparkSession, d: String) => {
      val ev = t(s, d, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val views = ev.filter(col("event_type") === "view")
        .select("user_id", "ts")
      AsOf.lastRightTs(purchases, views, "user_id", "ts", "last_view_ts")
        .filter(col("last_view_ts").isNotNull)
        .select("event_id", "user_id", "last_view_ts")
        .orderBy("event_id")
    }, Some("""
      SELECT p.event_id, p.user_id, max(v.ts) AS last_view_ts
      FROM events p JOIN events v
        ON p.user_id = v.user_id AND v.ts <= p.ts AND v.event_type = 'view'
      WHERE p.event_type = 'purchase'
      GROUP BY p.event_id, p.user_id ORDER BY p.event_id""")),

    // FLAGSHIP (SURVEY §7 minimum slice): D1 per-day dedup + daily agg —
    // the ConsumptionIndustry pipeline analogue (S8+P9+D1+aggregation).
    ("q19_daily_dedup_agg", (s: SparkSession, d: String) => {
      val ev = t(s, d, "events").select(col("ts"), col("user_id"), col("event_type"))
      Dedup.exact(ev, Seq("user_id", "event_type"),
          DedupScope.PerWindow("ts", "1 day"))
        .select(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("event_type"))
        .groupBy("day", "event_type")
        .agg(count(lit(1)).as("n_dedup"))
        .orderBy("day", "event_type")
    }, Some("""
      WITH dd AS (SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS day, user_id, event_type
                  FROM events)
      SELECT day, event_type, COUNT(*) AS n_dedup
      FROM dd GROUP BY day, event_type ORDER BY day, event_type""")),

    // D1-vs-D2 scope law: per-day dedup keeps strictly more than global.
    ("q20_dedup_scope_compare", (s: SparkSession, d: String) => {
      val ev = t(s, d, "events")
      val g = ev.agg(countDistinct(col("user_id"), col("event_type")).as("n"))
        .select(lit("global").as("scope"), col("n"))
      val p = Dedup.exact(
          ev.select(col("ts"), col("user_id"), col("event_type")),
          Seq("user_id", "event_type"), DedupScope.PerWindow("ts", "1 day"))
        .agg(count(lit(1)).as("n"))
        .select(lit("per_day").as("scope"), col("n"))
      g.unionByName(p).orderBy("scope")
    }, Some("""
      SELECT 'global' AS scope,
        CAST(COUNT(DISTINCT (user_id, event_type)) AS BIGINT) AS n FROM events
      UNION ALL
      SELECT 'per_day' AS scope, CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT DISTINCT strftime(ts, '%Y-%m-%d'), user_id, event_type FROM events)
      ORDER BY scope""")),

    // §2.3 P5 — canonical content key (sorted-column JSON -> SHA-256).
    ("q21_canonical_key", (s: SparkSession, d: String) => {
      t(s, d, "events")
        .withColumn("key",
          Keys.canonicalKey(Seq("event_id", "event_type", "user_id")))
        .select("event_id", "key")
        .orderBy("event_id")
    }, Some("""
      SELECT event_id,
        sha256(CAST(to_json(struct_pack(event_id := event_id,
          event_type := event_type, user_id := user_id)) AS VARCHAR)) AS key
      FROM events ORDER BY event_id""")),

    // §2.4 D3 — processed-window checkpoint skip (anti-join on the day log).
    ("q22_checkpoint_antijoin", (s: SparkSession, d: String) => {
      // Both anti-join sides derive from the same day list; eager-materialize
      // it so the events table is scanned once. `materialize` (not a bare
      // persist): the result reads the metadata-sized blocks, and they are
      // released with it instead of accumulating across queries.
      val days = materialize(t(s, d, "events")
        .select(date_format(col("ts"), "yyyy-MM-dd").as("day")).distinct()).df
      val processed = days.filter(col("day") < "2024-01-15")
      Dedup.checkpointFilter(days, processed, Seq("day")).orderBy("day")
    }, Some("""
      WITH days AS (SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS day FROM events)
      SELECT day FROM days
      WHERE day NOT IN (SELECT day FROM days WHERE day < '2024-01-15')
      ORDER BY day""")),

    // §2.3 P3+P8+P9 — schema-enforced contract projection with widening
    // (ConsumptionIndustry-shaped view of the events stream).
    ("q23_contract_projection", (s: SparkSession, d: String) => {
      val projected = t(s, d, "events").select(
        col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd'T'HH:mm").as("hour_utc"),
        col("user_id").cast("string").as("municipality_no"),
        col("event_type").as("branche"),
        col("value").cast("float").as("consumption_kwh"))
      Contracts.widenFloats(projected).orderBy("event_id")
    }, Some("""
      SELECT event_id, strftime(ts, '%Y-%m-%dT%H:%M') AS hour_utc,
        CAST(user_id AS VARCHAR) AS municipality_no,
        event_type AS branche,
        CAST(CAST(value AS REAL) AS DOUBLE) AS consumption_kwh
      FROM events ORDER BY event_id""")),

    // §2.2 K2 — Avro container-file (OCF) sink + source round trip: the
    // contract projection is landed as the reference sink's file format
    // (cluster/configuration.json:9 AvroFormat) and read back task-side.
    // The oracle is the projection itself — the round trip must be identity.
    ("q53_avro_ocf_roundtrip", (s: SparkSession, d: String) => {
      val projected = Contracts.widenFloats(t(s, d, "events").select(
        col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd'T'HH:mm").as("hour_utc"),
        col("user_id").cast("string").as("municipality_no"),
        col("event_type").as("branche"),
        col("value").cast("float").as("consumption_kwh")))
      val avro = graft.ops.AvroSerDe.avroSchemaFor("EventContract", projected.schema)
      val dir = s"/tmp/graft_ocf/${new java.io.File(d).getName}"
      graft.ops.AvroOcf.write(projected, avro, dir)
      graft.ops.AvroOcf.read(s, dir, avro, projected.schema).orderBy("event_id")
    }, Some("""
      SELECT event_id, strftime(ts, '%Y-%m-%dT%H:%M') AS hour_utc,
        CAST(user_id AS VARCHAR) AS municipality_no,
        event_type AS branche,
        CAST(CAST(value AS REAL) AS DOUBLE) AS consumption_kwh
      FROM events ORDER BY event_id""")),

    // §2.5 aggregation — grouping sets (beyond rollup/cube).
    ("q25_grouping_sets", (s: SparkSession, d: String) => {
      val li = t(s, d, "lineitem")
      li.createOrReplaceTempView("lineitem")
      s.sql("""
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
          CAST(SUM(CAST(l_quantity AS DECIMAL(10,2))) AS DOUBLE) AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""")
    }, Some(s"""
      SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        CAST(SUM($oQty) AS DOUBLE) AS sum_qty
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
      ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""")),

    // §2.3 P1 in reverse — unpivot (wide measures -> long rows), the
    // JSON-STAT zip's relational dual.
    ("q26_unpivot", (s: SparkSession, d: String) => {
      t(s, d, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
          expr("""stack(4, 'disc', l_discount, 'price', l_extendedprice,
                           'qty', l_quantity, 'tax', l_tax) AS (measure, val)"""))
        .orderBy("l_orderkey", "l_linenumber", "measure")
    }, Some("""
      SELECT l_orderkey, l_linenumber, measure, val FROM (
        SELECT l_orderkey, l_linenumber, 'disc' AS measure, l_discount AS val FROM lineitem
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'price', l_extendedprice FROM lineitem
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'qty', l_quantity FROM lineitem
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'tax', l_tax FROM lineitem)
      ORDER BY l_orderkey, l_linenumber, measure""")),

    // §2.5 — the SQL surface + correlated-subquery decorrelation (Catalyst
    // rewrites the NOT EXISTS into a left_anti join).
    ("q27_sql_decorrelated", (s: SparkSession, d: String) => {
      t(s, d, "customer").createOrReplaceTempView("customer")
      t(s, d, "supplier").createOrReplaceTempView("supplier")
      s.sql("""
        SELECT c_custkey, c_name FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM supplier
                          WHERE s_nationkey = c_nationkey AND s_acctbal > 8000)
        ORDER BY c_custkey""")
    }, Some("""
      SELECT c_custkey, c_name FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM supplier
                        WHERE s_nationkey = c_nationkey AND s_acctbal > 8000)
      ORDER BY c_custkey""")),

    // §2.5 — pivot (long -> wide), the unpivot dual.
    ("q28_pivot", (s: SparkSession, d: String) => {
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(Exact.sum(qty).cast("double"))
        .orderBy("l_returnflag")
    }, Some(s"""
      SELECT l_returnflag,
        CAST(SUM(CASE WHEN l_linestatus = 'F' THEN $oQty END) AS DOUBLE) AS F,
        CAST(SUM(CASE WHEN l_linestatus = 'O' THEN $oQty END) AS DOUBLE) AS O
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // §2.5 joins — left outer with null-coalescing aggregation.
    ("q45_join_left_outer", (s: SparkSession, d: String) => {
      val c = t(s, d, "customer")
      val o = t(s, d, "orders").filter(col("o_totalprice") > 300000)
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_big"),
          coalesce(Exact.sum(Exact.dec(col("o_totalprice"))), lit(0))
            .cast("double").as("big_total"))
        .orderBy("c_custkey")
    }, Some("""
      SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS n_big,
        CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(12,2))), 0) AS DOUBLE) AS big_total
      FROM customer LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 300000) o
        ON o_custkey = c_custkey
      GROUP BY c_custkey ORDER BY c_custkey""")),

    // §2.5 joins — full outer (nation coverage union of both sides).
    ("q46_join_full_outer", (s: SparkSession, d: String) => {
      val cn = t(s, d, "customer").groupBy(col("c_nationkey").as("nk"))
        .agg(count(lit(1)).as("c_cnt"))
      val sn = t(s, d, "supplier").groupBy(col("s_nationkey").as("nk2"))
        .agg(count(lit(1)).as("s_cnt"))
      cn.join(sn, cn("nk") === sn("nk2"), "full_outer")
        .select(coalesce(col("nk"), col("nk2")).as("nationkey"),
          coalesce(col("c_cnt"), lit(0L)).as("c_cnt"),
          coalesce(col("s_cnt"), lit(0L)).as("s_cnt"))
        .orderBy("nationkey")
    }, Some("""
      SELECT COALESCE(cn.nk, sn.nk2) AS nationkey,
        CAST(COALESCE(cn.c_cnt, 0) AS BIGINT) AS c_cnt,
        CAST(COALESCE(sn.s_cnt, 0) AS BIGINT) AS s_cnt
      FROM (SELECT c_nationkey AS nk, COUNT(*) AS c_cnt FROM customer GROUP BY 1) cn
      FULL OUTER JOIN
           (SELECT s_nationkey AS nk2, COUNT(*) AS s_cnt FROM supplier GROUP BY 1) sn
        ON cn.nk = sn.nk2
      ORDER BY nationkey""")),

    // §2.3 — math scalars restricted to IEEE-exact operations (sqrt, abs,
    // floor/ceil, modulo): deterministic across engines, unlike libm
    // transcendentals.
    ("q47_scalar_math", (s: SparkSession, d: String) => {
      t(s, d, "part").select(col("p_partkey"),
          sqrt(col("p_retailprice")).as("sq"),
          abs(col("p_retailprice") - 1000.0).as("dev"),
          floor(col("p_retailprice")).cast("long").as("fl"),
          ceil(col("p_retailprice")).cast("long").as("ce"),
          (col("p_size") % 7).as("szmod"))
        .orderBy("p_partkey")
    }, Some("""
      SELECT p_partkey, sqrt(p_retailprice) AS sq,
        abs(p_retailprice - 1000.0) AS dev,
        CAST(floor(p_retailprice) AS BIGINT) AS fl,
        CAST(ceil(p_retailprice) AS BIGINT) AS ce,
        p_size % 7 AS szmod
      FROM part ORDER BY p_partkey""")),

    // §2.5 window — RANGE frame with interval bounds (value-based frame,
    // peers included; complements q07's ROWS frame).
    ("q48_window_range_frame", (s: SparkSession, d: String) => {
      t(s, d, "lineitem").createOrReplaceTempView("lineitem")
      s.sql("""
        SELECT l_suppkey, l_orderkey, l_linenumber,
          CAST(SUM(CAST(l_quantity AS DECIMAL(10,2))) OVER (
            PARTITION BY l_suppkey ORDER BY l_shipdate
            RANGE BETWEEN INTERVAL '7' DAY PRECEDING AND CURRENT ROW)
          AS DOUBLE) AS qty_7d
        FROM lineitem
        ORDER BY l_suppkey, l_orderkey, l_linenumber""")
    }, Some("""
      SELECT l_suppkey, l_orderkey, l_linenumber,
        CAST(SUM(CAST(l_quantity AS DECIMAL(10,2))) OVER (
          PARTITION BY l_suppkey ORDER BY l_shipdate
          RANGE BETWEEN INTERVAL '7' DAY PRECEDING AND CURRENT ROW)
        AS DOUBLE) AS qty_7d
      FROM lineitem
      ORDER BY l_suppkey, l_orderkey, l_linenumber""")),

    // §2.5 — TPC-H Q3-shaped shipping priority (3-way join, filter on all
    // three tables, revenue ranking with deterministic tiebreak).
    ("q49_tpch_q3_shape", (s: SparkSession, d: String) => {
      val c = t(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = t(s, d, "orders").filter(col("o_orderdate") < lit("1998-01-01"))
      val li = t(s, d, "lineitem").filter(col("l_shipdate") > lit("1998-01-01"))
      c.join(o, c("c_custkey") === o("o_custkey"))
        .join(li, o("o_orderkey") === li("l_orderkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(sumRevenue.cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }, Some(s"""
      SELECT l_orderkey, o_orderdate, o_orderpriority,
        CAST(SUM($oRev) AS DOUBLE) AS revenue
      FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON o_orderkey = l_orderkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < TIMESTAMP '1998-01-01'
        AND l_shipdate > TIMESTAMP '1998-01-01'
      GROUP BY l_orderkey, o_orderdate, o_orderpriority
      ORDER BY revenue DESC, l_orderkey LIMIT 10""")),

    // §2.5 — TPC-H Q5-shaped local supplier volume (6-way join incl. the
    // correlated c_nationkey = s_nationkey condition).
    ("q50_tpch_q5_shape", (s: SparkSession, d: String) => {
      val c = t(s, d, "customer"); val o = t(s, d, "orders")
      val li = t(s, d, "lineitem"); val su = t(s, d, "supplier")
      val n = t(s, d, "nation"); val r = t(s, d, "region")
      c.join(o, c("c_custkey") === o("o_custkey"))
        .join(li, o("o_orderkey") === li("l_orderkey"))
        .join(su, li("l_suppkey") === su("s_suppkey") &&
          c("c_nationkey") === su("s_nationkey"))
        .join(broadcast(n), su("s_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .filter(col("r_name") === "EUROPE")
        .groupBy(col("n_name"))
        .agg(sumRevenue.cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("n_name")
    }, Some(s"""
      SELECT n_name, CAST(SUM($oRev) AS DOUBLE) AS revenue, COUNT(*) AS n_items
      FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON o_orderkey = l_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'
      GROUP BY n_name ORDER BY n_name""")),

    // §2.5 — TPC-H Q10-shaped returned-item customer ranking. At-scale plan:
    // lineitem (the fact, ~4 rows/order) is pre-aggregated to one exact
    // revenue row per order BEFORE touching orders/customer, so the wide
    // joins see |orders|-sized inputs, not |lineitem|-sized ones. The sum of
    // per-order decimal sums equals the flat sum exactly (decimal addition is
    // associative), so the oracle is unchanged.
    ("q54_tpch_q10_shape", (s: SparkSession, d: String) => {
      val c = t(s, d, "customer"); val o = t(s, d, "orders")
      val ordRev = t(s, d, "lineitem")
        .filter(col("l_returnflag") === "R")
        .groupBy(col("l_orderkey"))
        .agg(sumRevenue.as("__orev"))
      val custRev = o.join(ordRev, o("o_orderkey") === ordRev("l_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(sum(col("__orev")).as("__crev"))
      c.join(custRev, c("c_custkey") === custRev("o_custkey"))
        .select(col("c_custkey"), col("c_name"),
          col("__crev").cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }, Some(s"""
      SELECT c_custkey, c_name, CAST(SUM($oRev) AS DOUBLE) AS revenue
      FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON o_orderkey = l_orderkey
      WHERE l_returnflag = 'R'
      GROUP BY c_custkey, c_name
      ORDER BY revenue DESC, c_custkey LIMIT 20""")),

    // §2.5 — TPC-H Q12-shaped conditional counting (CASE aggregation).
    ("q55_tpch_q12_shape", (s: SparkSession, d: String) => {
      val o = t(s, d, "orders"); val li = t(s, d, "lineitem")
      o.join(li, o("o_orderkey") === li("l_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(
          sum(when(col("l_quantity") >= 25, 1L).otherwise(0L)).as("high_cnt"),
          sum(when(col("l_quantity") < 25, 1L).otherwise(0L)).as("low_cnt"))
        .orderBy("o_orderpriority")
    }, Some("""
      SELECT o_orderpriority,
        CAST(SUM(CASE WHEN l_quantity >= 25 THEN 1 ELSE 0 END) AS BIGINT) AS high_cnt,
        CAST(SUM(CASE WHEN l_quantity < 25 THEN 1 ELSE 0 END) AS BIGINT) AS low_cnt
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // §2.5 — TPC-H Q14-shaped ratio (promo revenue share; division of two
    // exact-decimal-derived doubles is deterministic).
    ("q56_tpch_q14_shape", (s: SparkSession, d: String) => {
      val li = t(s, d, "lineitem"); val p = t(s, d, "part")
      li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
        .agg((Exact.sumProduct(when(col("p_type") === "PROMO", price)
            .otherwise(lit(0).cast("decimal(3,2)")), Exact.one - disc)
            .cast("double") / sumRevenue.cast("double")).as("promo_share"))
    }, Some(s"""
      SELECT CAST(SUM(CASE WHEN p_type = 'PROMO' THEN $oRev
                           ELSE CAST(0 AS DECIMAL(3,2)) END) AS DOUBLE)
             / CAST(SUM($oRev) AS DOUBLE) AS promo_share
      FROM lineitem JOIN part ON l_partkey = p_partkey""")),

    // §2.5 — TPC-H Q18-shaped large-volume orders (HAVING on an exact
    // aggregate). At-scale plan: aggregate lineitem by l_orderkey and apply
    // the HAVING threshold FIRST — that collapses ~4 rows/order to 1 and
    // discards ~99% of groups — then join only the surviving keys to orders.
    // o_totalprice is functionally dependent on o_orderkey, so grouping by
    // the key alone is algebraically identical to the oracle's GROUP BY both.
    ("q57_tpch_q18_shape", (s: SparkSession, d: String) => {
      val o = t(s, d, "orders")
      val big = t(s, d, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(Exact.sum(qty).as("__sq"))
        .filter(col("__sq") > 150)
      o.join(big, o("o_orderkey") === big("l_orderkey"))
        .select(col("o_orderkey"), col("o_totalprice"),
          col("__sq").cast("double").as("sum_qty"))
        .orderBy("o_orderkey")
    }, Some(s"""
      SELECT o_orderkey, o_totalprice, CAST(SUM($oQty) AS DOUBLE) AS sum_qty
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      GROUP BY o_orderkey, o_totalprice
      HAVING SUM($oQty) > 150
      ORDER BY o_orderkey""")),

    // §2.5 — uncorrelated scalar subquery filter (balance above the global
    // mean; the mean is an exact-decimal ratio, identical in both engines).
    ("q58_scalar_subquery", (s: SparkSession, d: String) => {
      t(s, d, "customer").createOrReplaceTempView("customer")
      s.sql("""
        SELECT c_custkey, c_acctbal FROM customer
        WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
                                  / COUNT(*) FROM customer)
        ORDER BY c_custkey""")
    }, Some("""
      SELECT c_custkey, c_acctbal FROM customer
      WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
                                / COUNT(*) FROM customer)
      ORDER BY c_custkey""")),

    // §2.5 — TPC-H Q21-shaped multi-EXISTS: suppliers of 'R' items on
    // finished orders that were multi-supplier orders (EXISTS another
    // supplier's line) where no OTHER supplier had an 'R' line (NOT EXISTS)
    // — the canonical correlated-semi + correlated-anti decorrelation pair,
    // including the non-equi correlated predicate l2.l_suppkey <> l1.
    ("q59_tpch_q21_shape", (s: SparkSession, d: String) => {
      t(s, d, "supplier").createOrReplaceTempView("supplier")
      t(s, d, "orders").createOrReplaceTempView("orders")
      t(s, d, "lineitem").createOrReplaceTempView("lineitem")
      s.sql(q21Sql)
    }, Some(q21Sql)),

    // §2.5 — TPC-H Q2-shaped correlated scalar aggregate: customers holding
    // their nation's minimum account balance. Spark decorrelates the
    // per-nation MIN into an aggregate + join; values are read, never
    // recomputed, so double equality is exact in both engines.
    ("q60_correlated_min", (s: SparkSession, d: String) => {
      t(s, d, "customer").createOrReplaceTempView("customer")
      s.sql(q2MinSql)
    }, Some(q2MinSql)),

    // §7 skew posture — two-phase salted aggregation: partial counts on
    // (key, salt) spread a hot key over 16 reducers, final sum on key.
    // Result is algebraically the plain GROUP BY count, which is exactly
    // what the oracle runs.
    ("q61_skew_salted_agg", (s: SparkSession, d: String) => {
      Skew.saltedCount(t(s, d, "events"), Seq("event_type"),
          buckets = 16, saltFrom = Seq("event_id"))
        .orderBy("event_type")
    }, Some("""
      SELECT event_type, COUNT(*) AS n
      FROM events GROUP BY event_type ORDER BY event_type""")),

    // §7 skew posture — salted shuffle join (hot fact key spread across 8
    // tasks, dimension replicated 8x) followed by brand rollup; the oracle
    // is the unsalted join+rollup, which the salted plan must reproduce.
    ("q62_skew_salted_join", (s: SparkSession, d: String) => {
      val big = t(s, d, "lineitem").select(
        col("l_partkey").as("partkey"), col("l_quantity"),
        col("l_orderkey"), col("l_linenumber"))
      val small = t(s, d, "part").select(
        col("p_partkey").as("partkey"), col("p_brand"))
      Skew.saltedJoin(big, small, "partkey",
          buckets = 8, bigSaltFrom = Seq("l_orderkey", "l_linenumber"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n"), Exact.sum(qty).cast("double").as("sum_qty"))
        .orderBy("p_brand")
    }, Some(s"""
      SELECT p_brand, COUNT(*) AS n, CAST(SUM($oQty) AS DOUBLE) AS sum_qty
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY p_brand ORDER BY p_brand""")),

    // §4 bucketed co-located join — both sides written bucketed on the join
    // key, so the repeated fact-fact join runs with NO exchange (the
    // pre-shuffle trade that pays for itself after one join at 100 TB).
    // The oracle is the plain join; PlanQualitySpec pins the no-exchange
    // physical plan.
    ("q63_bucketed_join", (s: SparkSession, d: String) => {
      graft.ops.Sinks.writeBucketed(
        t(s, d, "orders").select("o_orderkey", "o_orderpriority"),
        "graft_b_orders", "o_orderkey", 8)
      graft.ops.Sinks.writeBucketed(
        t(s, d, "lineitem").select(col("l_orderkey"), col("l_quantity")),
        "graft_b_lineitem", "l_orderkey", 8)
      s.table("graft_b_orders")
        .join(s.table("graft_b_lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), Exact.sum(qty).cast("double").as("sum_qty"))
        .orderBy("o_orderpriority")
    }, Some(s"""
      SELECT o_orderpriority, COUNT(*) AS n, CAST(SUM($oQty) AS DOUBLE) AS sum_qty
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // §2.5 — pure interval join (NO equi-key): lineitem ship dates counted
    // into sampled order windows [o_orderdate, +7d). Spark would plan the
    // raw range predicate as a BroadcastNestedLoopJoin (O(P*I) + broadcast
    // of a whole side); ops.RangeJoin bins both sides to 7-day buckets and
    // equi-joins on the bucket with the range as residual filter. The
    // oracle runs the naive range join — results must be identical.
    ("q64_interval_join_binned", (s: SparkSession, d: String) => {
      val windows = t(s, d, "orders")
        .filter(col("o_orderkey") % 97 === 0)
        .select(col("o_orderkey"), col("o_orderdate").as("w_start"),
          (col("o_orderdate") + expr("INTERVAL 7 DAY")).as("w_end"))
      RangeJoin.pointInInterval(
          t(s, d, "lineitem").select("l_shipdate"), "l_shipdate",
          windows, "w_start", "w_end", bucketSeconds = 7L * 24 * 3600)
        .groupBy(col("o_orderkey"))
        .agg(count(lit(1)).as("n"))
        .orderBy("o_orderkey")
    }, Some("""
      SELECT o_orderkey, COUNT(*) AS n
      FROM lineitem JOIN orders ON o_orderkey % 97 = 0
       AND l_shipdate >= o_orderdate
       AND l_shipdate < o_orderdate + INTERVAL 7 DAY
      GROUP BY o_orderkey ORDER BY o_orderkey""")),

    // §2.6 tier (c) — NATIVE as-of join (custom LogicalPlan + injected
    // SparkStrategy + merge-scan SparkPlan, graft.plans.AsOfJoinNative):
    // last view at-or-before each purchase per user. Same semantics as q18's
    // union+window formulation; the oracle is the brute-force DuckDB lookup.
    ("q65_asof_native", (s: SparkSession, d: String) => {
      val ev = t(s, d, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id"), col("ts"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id").as("v_user"), col("ts").as("v_ts"))
      graft.plans.AsOfNative.asofJoin(purchases, views,
          "user_id", "v_user", "ts", "v_ts")
        .select(col("p_id"), col("v_ts"))
        .orderBy("p_id")
    }, Some("""
      SELECT p.event_id AS p_id, max(v.ts) AS v_ts
      FROM events p LEFT JOIN events v
        ON v.user_id = p.user_id AND v.event_type = 'view' AND v.ts <= p.ts
      WHERE p.event_type = 'purchase'
      GROUP BY p.event_id ORDER BY p_id""")),

    // §2.4 D3 at scale — day-partitioned landing + partition-pruned read:
    // events are written partitioned by event-time day (the "processed day
    // = one directory" layout that replaces the reference's day checkpoint
    // at 100 TB), then a single day is read back; the day filter prunes to
    // one partition at planning time. Oracle recomputes the same day's
    // aggregate from the raw table.
    ("q67_day_partition_prune", (s: SparkSession, d: String) => {
      val dir = s"/tmp/graft_daypart/${new java.io.File(d).getName}/events"
      graft.ops.Sinks.writeDayPartitioned(t(s, d, "events"), "ts", dir)
      graft.ops.Sinks.readDay(s, dir, "2024-01-05")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          Exact.sumD(col("value"), 10).as("sum_value"))
        .orderBy("event_type")
    }, Some("""
      SELECT event_type, COUNT(*) AS n,
        CAST(SUM(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS sum_value
      FROM events
      WHERE strftime(ts, '%Y-%m-%d') = '2024-01-05'
      GROUP BY event_type ORDER BY event_type""")),

    // §2.5 — TPC-H Q22-shaped: positive-balance customers above the mean
    // with NO orders, rolled up by a name-prefix "country code" — string
    // scalar + exact-decimal scalar subquery + anti-join decorrelation in
    // one query. Same SQL text on both engines.
    ("q69_tpch_q22_shape", (s: SparkSession, d: String) => {
      t(s, d, "customer").createOrReplaceTempView("customer")
      t(s, d, "orders").createOrReplaceTempView("orders")
      s.sql(q22Sql)
    }, Some(q22Sql)),

    // §2.1 S7 — JDBC import (the Sqoop leg) through the gate: the nation
    // dimension is landed in an embedded in-memory Derby, then read back
    // with a RANGE-PARTITIONED Spark JDBC scan (4 key-range tasks — the
    // 100 TB import shape). The 25-row driver-side load is the RDBMS
    // fixture, not a data path; the oracle reads the same parquet rows.
    ("q74_jdbc_roundtrip", (s: SparkSession, d: String) => {
      val url = s"jdbc:derby:memory:graft_${new java.io.File(d).getName.replace('.', '_')};create=true"
      val rows = t(s, d, "nation")
        .select("n_nationkey", "n_name", "n_regionkey").collect()
      val conn = java.sql.DriverManager.getConnection(url)
      try {
        val st = conn.createStatement()
        try st.execute("DROP TABLE nation")
        catch { case _: java.sql.SQLException => () }
        st.execute(
          "CREATE TABLE nation (n_nationkey INT, n_name VARCHAR(64), n_regionkey INT)")
        st.close()
        val ps = conn.prepareStatement("INSERT INTO nation VALUES (?, ?, ?)")
        rows.foreach { r =>
          ps.setInt(1, r.getInt(0)); ps.setString(2, r.getString(1))
          ps.setInt(3, r.getInt(2)); ps.addBatch()
        }
        ps.executeBatch(); ps.close()
      } finally conn.close()
      graft.sources.Sources.jdbcTable(s, url, "nation",
          partitionColumn = Some(("n_nationkey", 0L, 25L, 4)))
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        .orderBy("n_nationkey")
    }, Some("""
      SELECT n_nationkey, n_name, n_regionkey FROM nation
      ORDER BY n_nationkey""")),

    // §2.1 S1/S3 — the DataSourceV2 day-window connector through the gate:
    // a fixed three-day scan (one InputPartition per day, executor-side
    // fetch) projecting the three deterministic columns — the projection
    // exercises the connector's pushed column pruning (the reader
    // materializes 3 of 4 columns). The oracle rebuilds the day x hour x
    // municipality x branch cross product; the synthetic kWh value is
    // JVM-hash-derived and stays spec-covered instead.
    ("q75_daywindow_scan", (s: SparkSession, d: String) => {
      s.read.format("graft.sources.v2.DayWindowSource")
        .option("from", "2024-01-01").option("to", "2024-01-03").load()
        .select("HourUTC", "MunicipalityNo", "Branche")
        .orderBy("HourUTC", "MunicipalityNo", "Branche")
    }, Some("""
      SELECT d || 'T' || lpad(CAST(h AS VARCHAR), 2, '0') || ':00' AS HourUTC,
             m AS MunicipalityNo, b AS Branche
      FROM (SELECT unnest(['2024-01-01', '2024-01-02', '2024-01-03']) AS d),
           (SELECT unnest(range(24)) AS h),
           (SELECT unnest(['101', '155', '630']) AS m),
           (SELECT unnest(['Erhverv', 'Privat']) AS b)
      ORDER BY HourUTC, MunicipalityNo, Branche""")),

    // §2.5 set ops, bag semantics — INTERSECT ALL / EXCEPT ALL / UNION ALL
    // preserve multiplicities (distinct physical operators from q13's
    // set-semantics trio). Same SQL text on both engines.
    ("q72_setops_all", (s: SparkSession, d: String) => {
      t(s, d, "orders").createOrReplaceTempView("orders")
      s.sql(setAllSql)
    }, Some(setAllSql)),

    // §2.5 aggregation — sample stddev and correlation made oracle-exact:
    // the builtin stddev/corr aggregates are summation-order-dependent
    // doubles (never hash-comparable across engines), so the moments are
    // accumulated as EXACT decimal sums and the closed-form formulas run
    // once in double on identical inputs. The decimal -> double step goes
    // THROUGH A STRING on both sides: each engine's native decimal cast
    // rounds differently at the last bit, while decimal digits -> strtod
    // is correctly rounded (identical) everywhere.
    ("q71_stats_moments", (s: SparkSession, d: String) => {
      def d2(c: org.apache.spark.sql.Column) = c.cast("string").cast("double")
      val li = t(s, d, "lineitem")
      val agg = li.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          Exact.sum(qty).as("sq"), Exact.sumProduct(qty, qty).as("sqq"),
          Exact.sum(price).as("sp"), Exact.sumProduct(price, price).as("spp"),
          Exact.sumProduct(qty, price).as("sqp"))
      agg.select(col("l_returnflag"), col("n"),
          sqrt((d2(col("sqq")) - d2(col("sq")) * d2(col("sq")) / col("n")) /
            (col("n") - 1)).as("stddev_qty"),
          ((col("n") * d2(col("sqp")) - d2(col("sq")) * d2(col("sp"))) /
            sqrt((col("n") * d2(col("sqq")) - d2(col("sq")) * d2(col("sq"))) *
              (col("n") * d2(col("spp")) - d2(col("sp")) * d2(col("sp")))))
            .as("corr_qty_price"))
        .orderBy("l_returnflag")
    }, Some(s"""
      WITH m AS (
        SELECT l_returnflag, COUNT(*) AS n,
          CAST(CAST(SUM($oQty) AS VARCHAR) AS DOUBLE) AS sq,
          CAST(CAST(SUM($oQty * $oQty) AS VARCHAR) AS DOUBLE) AS sqq,
          CAST(CAST(SUM($oPrice) AS VARCHAR) AS DOUBLE) AS sp,
          CAST(CAST(SUM($oPrice * $oPrice) AS VARCHAR) AS DOUBLE) AS spp,
          CAST(CAST(SUM($oQty * $oPrice) AS VARCHAR) AS DOUBLE) AS sqp
        FROM lineitem GROUP BY l_returnflag)
      SELECT l_returnflag, n,
        sqrt((sqq - sq * sq / n) / (n - 1)) AS stddev_qty,
        (n * sqp - sq * sp) / sqrt((n * sqq - sq * sq) * (n * spp - sp * sp))
          AS corr_qty_price
      FROM m ORDER BY l_returnflag""")),

    // §2.5 aggregation — exact interpolated percentiles (both engines use
    // the linear-interpolation definition; inputs are integral doubles so
    // the interpolation arithmetic is exact).
    ("q29_percentiles", (s: SparkSession, d: String) => {
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(expr("percentile(l_quantity, 0.5)").as("median_qty"),
          expr("percentile(l_quantity, 0.9)").as("p90_qty"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    }, Some("""
      SELECT l_returnflag,
        quantile_cont(l_quantity, 0.5) AS median_qty,
        quantile_cont(l_quantity, 0.9) AS p90_qty,
        COUNT(*) AS n
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // §2.5 streaming-shape in batch — session windows (1h gap) via
    // gaps-and-islands window functions (same result as session_window,
    // but stays in plain codegen'd windows; the streaming layer uses
    // session_window proper — see streaming.Streams.sessionize).
    ("q24_session_window", (s: SparkSession, d: String) => {
      val w = Window.partitionBy("user_id").orderBy("ts")
      t(s, d, "events")
        .select(col("user_id"), col("ts"))
        .withColumn("new_s", when(lag(col("ts"), 1).over(w).isNull ||
            col("ts") >= lag(col("ts"), 1).over(w) + expr("INTERVAL 1 HOUR"),
          1L).otherwise(0L))
        .withColumn("sid", sum(col("new_s"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "sid")
        .agg(min(col("ts")).as("session_start"),
          (max(col("ts")) + expr("INTERVAL 1 HOUR")).as("session_end"),
          count(lit(1)).as("n_events"))
        .select("user_id", "session_start", "session_end", "n_events")
        .orderBy("user_id", "session_start")
    }, Some("""
      WITH x AS (SELECT user_id, ts,
          CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                 OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL 1 HOUR
               THEN 1 ELSE 0 END AS new_s
        FROM events),
      y AS (SELECT user_id, ts,
          SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS sid
        FROM x)
      SELECT user_id, min(ts) AS session_start,
        max(ts) + INTERVAL 1 HOUR AS session_end,
        COUNT(*) AS n_events
      FROM y GROUP BY user_id, sid ORDER BY user_id, session_start""")),

    // A REAL Structured Streaming execution through the oracle gate: the
    // events table is re-read as a file STREAM (readStream + explicit
    // schema, same nanos->micros handling as the batch loader), aggregated
    // with a watermark + 1-day tumbling window per event type, and drained
    // into a memory sink; the sink table is the query result. Complete
    // output mode makes end-of-stream contents equal the batch aggregation
    // — which is exactly what the DuckDB oracle computes — while the
    // watermark/append production shape is covered by StreamsSpec.
    ("q81_stream_windowed_agg", (s: SparkSession, d: String) => {
      val stream = Tables.stream(s, d, "events")
        .withWatermark("ts", "1 day")
        .groupBy(window(col("ts"), "1 day"), col("event_type"))
        // Exact decimal sum: partial aggregates from any number of tasks
        // (or micro-batches) combine exactly — distinct aggregation is not
        // available on streams, and a raw double sum would be
        // accumulation-order-dependent.
        .agg(count(lit(1)).as("n"), Exact.sumD(col("value")).as("sum_value"))
        .select(date_format(col("window.start"), "yyyy-MM-dd").as("day"),
          col("event_type"), col("n"), col("sum_value"))
      Streams.drain(stream, "complete", sized(s, d))
        .orderBy("day", "event_type")
    }, Some("""
      SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
        COUNT(*) AS n,
        CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1, 2 ORDER BY day, event_type""")),

    // K3 through the gate: a STREAMING JSON file sink (the reference's
    // JsonFormat HDFS connector leg, cluster/README.md:56-69) written with
    // AvailableNow + checkpoint, read back, and aggregated. Long/string
    // columns only — JSON round-trips them exactly; the oracle aggregates
    // the original parquet, so the comparison proves sink+source fidelity.
    ("q84_json_sink_roundtrip", (s: SparkSession, d: String) => {
      val base = s"/tmp/graft_json/${new java.io.File(d).getName}"
      val (outDir, ckDir) = (s"$base/out", s"$base/ck")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
      val stream = Tables.stream(s, d, "events")
        .select("event_id", "user_id", "event_type")
      val q = stream.writeStream.format("json")
        .option("path", outDir).option("checkpointLocation", ckDir)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.schema("event_id LONG, user_id LONG, event_type STRING")
        .json(outDir)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("user_id")).as("sum_uid"))
        .orderBy("event_type")
    }, Some("""
      SELECT event_type, COUNT(*) AS n,
        CAST(SUM(user_id) AS BIGINT) AS sum_uid
      FROM events GROUP BY 1 ORDER BY event_type""")),

    // CSV source/sink round-trip (file-format coverage beside parquet,
    // Avro OCF, JSON): header CSV written and read back under the source
    // schema — quoting handles comment fields with separators — and the
    // oracle reads the ORIGINAL parquet, so the compare proves fidelity.
    ("q86_csv_roundtrip", (s: SparkSession, d: String) => {
      val base = s"/tmp/graft_csv/${new java.io.File(d).getName}"
      val src = t(s, d, "nation")
      src.write.mode("overwrite").option("header", "true").csv(base)
      s.read.schema(src.schema).option("header", "true").csv(base)
        .orderBy("n_nationkey")
    }, Some("""
      SELECT * FROM nation ORDER BY n_nationkey""")),

    // SCD2 dimension-history apply — the warehouse maintenance the
    // reference's Sqoop/JDBC users run downstream of imports: a change
    // batch (deterministic: every 10th customer re-segments) closes the
    // current version and appends the new one; untouched customers keep
    // their open v1. Semi/anti joins split the dimension, the fresh rows
    // union in — the plan a transactional MERGE would produce, spelled
    // out in joins.
    ("q89_scd2_apply", (s: SparkSession, d: String) => {
      val dim = t(s, d, "customer").select(col("c_custkey"), col("c_mktsegment"))
      val changes = dim.filter(pmod(col("c_custkey"), lit(10)) === 0)
        .select(col("c_custkey"),
          concat(lit("NEW_"), col("c_mktsegment")).as("c_mktsegment"))
      val closed = dim.join(changes.select("c_custkey"), Seq("c_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_mktsegment"),
          lit(1L).as("version"), lit(false).as("is_current"))
      val open = dim.join(changes.select("c_custkey"), Seq("c_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_mktsegment"),
          lit(1L).as("version"), lit(true).as("is_current"))
      val fresh = changes.select(col("c_custkey"), col("c_mktsegment"),
        lit(2L).as("version"), lit(true).as("is_current"))
      closed.union(open).union(fresh).orderBy("c_custkey", "version")
    }, Some("""
      WITH chg AS (SELECT c_custkey, 'NEW_' || c_mktsegment AS c_mktsegment
                   FROM customer WHERE c_custkey % 10 = 0)
      SELECT c_custkey, c_mktsegment, CAST(1 AS BIGINT) AS version,
        (c_custkey % 10 <> 0) AS is_current
      FROM customer
      UNION ALL
      SELECT c_custkey, c_mktsegment, CAST(2 AS BIGINT) AS version, TRUE
      FROM chg
      ORDER BY c_custkey, version""")),

    // One-pass column profiler: null/distinct counts and normalized-string
    // min/max for four differently-typed lineitem columns, from ONE scan
    // (a grouping-sets count, then one aggregate over the distinct values;
    // see ops.Profile). min/max aggregate on the native type and are
    // rendered after — the oracle applies the same rendering to the same
    // typed aggregates.
    ("q92_profile_columns", (s: SparkSession, d: String) => {
      Profile.profile(t(s, d, "lineitem"), Seq(
          Profile.Spec("l_orderkey"),
          Profile.Spec("l_quantity", c => c.cast("decimal(18,2)").cast("string")),
          Profile.Spec("l_returnflag"),
          Profile.Spec("l_shipdate",
            c => date_format(c, "yyyy-MM-dd HH:mm:ss"))))
        .orderBy("col_name")
    }, Some("""
      SELECT 'l_orderkey' AS col_name,
        CAST(count(*) FILTER (WHERE l_orderkey IS NULL) AS BIGINT) AS n_nulls,
        CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_distinct,
        CAST(min(l_orderkey) AS VARCHAR) AS min_str,
        CAST(max(l_orderkey) AS VARCHAR) AS max_str
      FROM lineitem
      UNION ALL
      SELECT 'l_quantity',
        CAST(count(*) FILTER (WHERE l_quantity IS NULL) AS BIGINT),
        CAST(count(DISTINCT l_quantity) AS BIGINT),
        CAST(CAST(min(l_quantity) AS DECIMAL(18,2)) AS VARCHAR),
        CAST(CAST(max(l_quantity) AS DECIMAL(18,2)) AS VARCHAR)
      FROM lineitem
      UNION ALL
      SELECT 'l_returnflag',
        CAST(count(*) FILTER (WHERE l_returnflag IS NULL) AS BIGINT),
        CAST(count(DISTINCT l_returnflag) AS BIGINT),
        min(l_returnflag), max(l_returnflag)
      FROM lineitem
      UNION ALL
      SELECT 'l_shipdate',
        CAST(count(*) FILTER (WHERE l_shipdate IS NULL) AS BIGINT),
        CAST(count(DISTINCT l_shipdate) AS BIGINT),
        strftime(min(l_shipdate), '%Y-%m-%d %H:%M:%S'),
        strftime(max(l_shipdate), '%Y-%m-%d %H:%M:%S')
      FROM lineitem
      ORDER BY col_name""")),

    // ORC round-trip (columnar-format coverage beyond parquet/Avro-OCF/
    // CSV/JSON): land customer as ORC, read it back through the native
    // vectorized ORC reader. The oracle reads the ORIGINAL parquet, so the
    // compare proves write→read fidelity for every column type.
    ("q93_orc_roundtrip", (s: SparkSession, d: String) => {
      val base = s"/tmp/graft_orc/${new java.io.File(d).getName}"
      val src = t(s, d, "customer")
      src.write.mode("overwrite").orc(base)
      s.read.orc(base).orderBy("c_custkey")
    }, Some("""
      SELECT * FROM customer ORDER BY c_custkey""")),

    // Deterministic integer-scaled PageRank (3 iterations) over the
    // symmetrized supplier–customer graph from lineitem⋈orders (vertex ids
    // disambiguated: supplier 2k, customer 2k+1). Integer ranks make an
    // ITERATIVE fixpoint computation hash-checkable across engines — the
    // oracle unrolls the same three exact-arithmetic rounds as CTEs.
    ("q94_pagerank", (s: SparkSession, d: String) => {
      val li = t(s, d, "lineitem").select("l_orderkey", "l_suppkey")
      val ord = t(s, d, "orders").select("o_orderkey", "o_custkey")
      // No .distinct() here: pageRankScaled dedups its edge list anyway,
      // and a second 2|E|-row shuffle would just precede that one.
      // r13 NEGATIVE RESULT: checkpointing `sc` before the mirror union
      // (to stop the join re-running once per union branch) measured
      // FLAT wall and +12% CPU on a filtered A/B pair at sf0.1 — the
      // broadcast join's two executions share their exchanges and cost
      // less than the checkpoint's row copy. Don't re-try.
      val sc = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .select((col("l_suppkey") * 2).as("src"),
          (col("o_custkey") * 2 + 1).as("dst"))
      val edges = sc.union(sc.select(col("dst").as("src"), col("src").as("dst")))
      graft.llm.Components.pageRankScaled(edges, iters = 3).orderBy("id")
    }, Some("""
      WITH sc AS (SELECT DISTINCT l_suppkey * 2 AS src, o_custkey * 2 + 1 AS dst
                  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      e AS (SELECT src, dst FROM sc
            UNION ALL SELECT dst, src FROM sc),
      v AS (SELECT DISTINCT src AS id FROM e),
      deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
      r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS r FROM v),
      r1 AS (SELECT v.id,
          CAST(150000 + (85 * COALESCE(c.s, 0)) // 100 AS BIGINT) AS r
        FROM v LEFT JOIN (
          SELECT e.dst AS id, SUM(r.r // deg.deg) AS s
          FROM e JOIN r0 r ON e.src = r.id JOIN deg ON e.src = deg.src
          GROUP BY 1) c ON v.id = c.id),
      r2 AS (SELECT v.id,
          CAST(150000 + (85 * COALESCE(c.s, 0)) // 100 AS BIGINT) AS r
        FROM v LEFT JOIN (
          SELECT e.dst AS id, SUM(r.r // deg.deg) AS s
          FROM e JOIN r1 r ON e.src = r.id JOIN deg ON e.src = deg.src
          GROUP BY 1) c ON v.id = c.id),
      r3 AS (SELECT v.id,
          CAST(150000 + (85 * COALESCE(c.s, 0)) // 100 AS BIGINT) AS r
        FROM v LEFT JOIN (
          SELECT e.dst AS id, SUM(r.r // deg.deg) AS s
          FROM e JOIN r2 r ON e.src = r.id JOIN deg ON e.src = deg.src
          GROUP BY 1) c ON v.id = c.id)
      SELECT id, r FROM r3 ORDER BY id""")),

    // Streaming GLOBAL dedup e2e (D2 in stream form, distinct from q81's
    // windowed aggregation): the events file stream runs through stateful
    // dropDuplicates in append mode into a memory sink — each key emits
    // exactly once, on first arrival. Projected to the dedup key alone so
    // end-of-stream contents are deterministic (= batch DISTINCT, which is
    // what the oracle computes); keeper semantics for payload columns are
    // covered by q19/q20 and StreamsSpec.
    ("q96_stream_global_dedup", (s: SparkSession, d: String) => {
      val stream = Tables.stream(s, d, "events")
        .select("user_id", "event_type")
        .dropDuplicates("user_id", "event_type")
      Streams.drain(stream, "append", sized(s, d))
        .orderBy("user_id", "event_type")
    }, Some("""
      SELECT DISTINCT user_id, event_type FROM events
      ORDER BY user_id, event_type""")),

    // TPC-H Q7 shape (volume shipping): revenue between two nations, both
    // directions, split by ship year. The nation dimension broadcasts
    // twice (supplier side, customer side) with the two-nation filter
    // pushed into each scan; the disjunctive nation-pair predicate runs
    // after the broadcasts, never as a shuffle.
    ("q98_tpch_q7_shape", (s: SparkSession, d: String) => {
      val n1 = t(s, d, "nation")
        .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
        .filter(col("supp_nation").isin("NATION_11", "NATION_12"))
      val n2 = t(s, d, "nation")
        .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
        .filter(col("cust_nation").isin("NATION_11", "NATION_12"))
      t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1998-01-01"))
        .join(t(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(n1, col("s_nationkey") === col("s_nk"))
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(n2, col("c_nationkey") === col("c_nk"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(sumRevenue.cast("double").as("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    }, Some(s"""
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        CAST(year(l_shipdate) AS INT) AS l_year,
        CAST(SUM($oRev) AS DOUBLE) AS revenue
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1998-01-01'
        AND n1.n_name IN ('NATION_11', 'NATION_12')
        AND n2.n_name IN ('NATION_11', 'NATION_12')
        AND n1.n_name <> n2.n_name
      GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""")),

    // TPC-H Q19 shape: OR-of-ANDs disjunctive predicate across the
    // lineitem×part join — the classic test that a disjunction spanning
    // both sides still leaves each side's common bounds pushable and the
    // join a plain broadcast/hash equi-join (not a nested loop over the
    // disjunction).
    ("q99_tpch_q19_shape", (s: SparkSession, d: String) => {
      val li = t(s, d, "lineitem")
      val p = t(s, d, "part")
      li.join(p, col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
            col("l_quantity").between(1, 20)) ||
          (col("p_brand") === "Brand#2" && col("p_size").between(10, 30) &&
            col("l_quantity").between(10, 30)) ||
          (col("p_brand") === "Brand#3" && col("p_size").between(20, 50) &&
            col("l_quantity").between(20, 50)))
        .agg(sumRevenue.cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
    }, Some(s"""
      SELECT CAST(SUM($oRev) AS DOUBLE) AS revenue, COUNT(*) AS n_items
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
             AND l_quantity BETWEEN 1 AND 20)
         OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
             AND l_quantity BETWEEN 10 AND 30)
         OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
             AND l_quantity BETWEEN 20 AND 50)""")),

    // Small-file compaction round-trip: orders is landed fragmented (64
    // micro-batch-sized files), compacted to ~5000-row files with an
    // atomic directory swap, and read back. The oracle reads the ORIGINAL
    // parquet — the compare proves compaction changed layout, not
    // contents; the file-count drop itself is pinned in SkewSinksSpec.
    ("q100_compact_roundtrip", (s: SparkSession, d: String) => {
      val base = s"/tmp/graft_compact/${new java.io.File(d).getName}"
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
      t(s, d, "orders").repartition(64).write.parquet(base)
      Sinks.compact(s, base, targetRowsPerFile = 5000L)
      s.read.parquet(base).orderBy("o_orderkey")
    }, Some("""
      SELECT * FROM orders ORDER BY o_orderkey""")),

    // Equi-width histogram with data-derived bounds: two aggregate passes
    // (bounds broadcast into the binning projection), bin assignment in
    // fixed-order double arithmetic so both engines bin identically.
    ("q101_histogram", (s: SparkSession, d: String) => {
      Profile.histogram(t(s, d, "lineitem"), col("l_extendedprice"), 20)
        .orderBy("bin")
    }, Some("""
      WITH b AS (SELECT min(l_extendedprice) AS mn, max(l_extendedprice) AS mx
                 FROM lineitem),
      g AS (SELECT CAST(CASE WHEN mx = mn THEN 0
              ELSE least(19, floor((l_extendedprice - mn) * 20.0 / (mx - mn)))
            END AS INT) AS bin
        FROM lineitem, b)
      SELECT bin, COUNT(*) AS n FROM g GROUP BY 1 ORDER BY bin""")),

    // §2.5 — RECURSIVE CTE (Spark 4's WITH RECURSIVE): a date-spine
    // gap-fill, the warehouse calendar pattern — generate every day of a
    // quarter recursively, left-join daily order counts, emit zeros for
    // silent days. The SAME SQL text runs on Spark and DuckDB (q59/q60
    // discipline), so the oracle checks Spark's recursion itself.
    ("q104_recursive_spine", (s: SparkSession, d: String) => {
      t(s, d, "orders").createOrReplaceTempView("orders")
      s.sql(dateSpineSql)
    }, Some(dateSpineSql)),

    // TPC-H Q17 shape (small-quantity-order revenue): lines under 20% of
    // their part's average quantity. The correlated AVG decorrelates to a
    // per-part aggregate joined back; the threshold compare is rewritten
    // DIVISION-FREE (qty·5·cnt < sum, all exact decimal/int) so no
    // engine-specific decimal-division rounding can flip a boundary row.
    ("q106_tpch_q17_shape", (s: SparkSession, d: String) => {
      val li = t(s, d, "lineitem")
      val perPart = li.groupBy(col("l_partkey").as("pk"))
        .agg(Exact.sum(qty).as("sq"), count(lit(1)).as("cnt"))
      li.join(perPart, col("l_partkey") === col("pk"))
        .filter(qty * lit(5) * col("cnt") < col("sq"))
        .agg((Exact.sumD(col("l_extendedprice"), 12) / 7.0).as("avg_yearly"))
    }, Some("""
      WITH pp AS (SELECT l_partkey AS pk,
          SUM(CAST(l_quantity AS DECIMAL(10,2))) AS sq, COUNT(*) AS cnt
        FROM lineitem GROUP BY 1)
      SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0
        AS avg_yearly
      FROM lineitem JOIN pp ON l_partkey = pk
      WHERE CAST(l_quantity AS DECIMAL(10,2)) * 5 * cnt < sq""")),

    // §2.5 — the rank-family windows not yet exercised: ntile quartiles,
    // percent_rank, cume_dist, and nth_value over an explicit frame. All
    // rank-derived values are exact integer ratios divided once in double,
    // ties broken totally (acctbal desc, custkey) — deterministic in both
    // engines.
    ("q107_window_rank_family", (s: SparkSession, d: String) => {
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      val wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, d, "customer").select(col("c_custkey"), col("c_mktsegment"),
          ntile(4).over(w).as("quartile"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"),
          nth_value(col("c_custkey"), 2).over(wf).as("second_top"))
        .orderBy("c_custkey")
    }, Some("""
      SELECT c_custkey, c_mktsegment,
        CAST(ntile(4) OVER w AS INT) AS quartile,
        percent_rank() OVER w AS pr,
        cume_dist() OVER w AS cd,
        nth_value(c_custkey, 2) OVER
          (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
          AS second_top
      FROM customer
      WINDOW w AS (PARTITION BY c_mktsegment
                   ORDER BY c_acctbal DESC, c_custkey)
      ORDER BY c_custkey""")),

    // §2.5 — aggregate FILTER clause (conditional aggregation without
    // CASE scaffolding), SAME SQL text on both engines.
    ("q108_agg_filter_clause", (s: SparkSession, d: String) => {
      t(s, d, "orders").createOrReplaceTempView("orders")
      s.sql(aggFilterSql)
    }, Some(aggFilterSql)),

    // §2.5 — scalar string family 2: edit distance, character
    // translation, padding, repetition — all deterministic pure functions
    // with identical definitions in both engines.
    ("q109_scalar_string2", (s: SparkSession, d: String) => {
      t(s, d, "nation").select(col("n_nationkey"), col("n_name"),
          levenshtein(col("n_name"), reverse(col("n_name"))).as("lev_rev"),
          translate(col("n_name"), "_0123456789", "-OIZEASGTBQ").as("translated"),
          lpad(col("n_name"), 12, "*").as("padded"),
          repeat(substring(col("n_name"), 1, 3), 2).as("rep"))
        .orderBy("n_nationkey")
    }, Some("""
      SELECT n_nationkey, n_name,
        CAST(levenshtein(n_name, reverse(n_name)) AS INT) AS lev_rev,
        translate(n_name, '_0123456789', '-OIZEASGTBQ') AS translated,
        lpad(n_name, 12, '*') AS padded,
        repeat(substring(n_name, 1, 3), 2) AS rep
      FROM nation ORDER BY n_nationkey"""))
  ) ++ lateEntries

  private def lateralSql = """
    SELECT n.n_nationkey, n.n_name, l.c_custkey, l.c_acctbal
    FROM nation n, LATERAL (
      SELECT c_custkey, c_acctbal FROM customer
      WHERE c_nationkey = n.n_nationkey
      ORDER BY c_acctbal DESC, c_custkey LIMIT 2) l
    ORDER BY n.n_nationkey, l.c_acctbal DESC, l.c_custkey"""

  private def aggFilterSql = """
    SELECT o_orderpriority,
      COUNT(*) AS n,
      COUNT(*) FILTER (WHERE o_totalprice > 150000) AS n_big,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
           FILTER (WHERE o_orderstatus = 'F') AS DOUBLE) AS sum_f
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""

  private def lateEntries: Seq[(String, Q, Option[String])] = Seq(

    // S7 WRITE leg: Spark lands a dimension INTO the RDBMS with
    // df.write.jdbc (the export direction q74's import leg doesn't cover),
    // then reads it back range-partitioned. Fidelity proven against the
    // original parquet via the oracle.
    ("q112_jdbc_write_roundtrip", (s: SparkSession, d: String) => {
      val url = s"jdbc:derby:memory:graftw_${new java.io.File(d).getName.replace('.', '_')};create=true"
      val conn = java.sql.DriverManager.getConnection(url)
      try {
        val st = conn.createStatement()
        try st.execute("DROP TABLE region_out")
        catch { case _: java.sql.SQLException => () }
        st.close()
      } finally conn.close()
      t(s, d, "region").select(col("r_regionkey"), col("r_name"))
        .write.mode("append").jdbc(url, "region_out", new java.util.Properties)
      graft.sources.Sources.jdbcTable(s, url, "region_out",
          partitionColumn = Some(("r_regionkey", 0L, 5L, 2)))
        .orderBy("r_regionkey")
    }, Some("""
      SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey""")),

    // Nested construct/flatten round-trip: line rows fold into a per-order
    // SORTED array-of-structs (sort_array makes collect_list's
    // nondeterministic gather order canonical — the only way a nested
    // build is retry-safe), then explode back to flat rows. The oracle
    // reads the original flat relation, so the compare proves the nest ⇄
    // flatten cycle is lossless and deterministic.
    ("q113_nested_roundtrip", (s: SparkSession, d: String) => {
      t(s, d, "orders")
        .groupBy(col("o_custkey"))
        .agg(sort_array(collect_list(struct(col("o_orderkey"),
          col("o_orderpriority")))).as("orders_nested"))
        .select(col("o_custkey"), explode(col("orders_nested")).as("o"))
        .select(col("o_custkey"), col("o.o_orderkey").as("o_orderkey"),
          col("o.o_orderpriority").as("o_orderpriority"))
        .orderBy("o_custkey", "o_orderkey")
    }, Some("""
      SELECT o_custkey, o_orderkey, o_orderpriority FROM orders
      ORDER BY o_custkey, o_orderkey""")),

    // TPC-H Q4 shape: order-priority counts over orders with at least one
    // late line (EXISTS -> left-semi decorrelation; the q59 family's
    // simplest member, kept because it is the canonical priority report).
    ("q114_tpch_q4_shape", (s: SparkSession, d: String) => {
      val li = t(s, d, "lineitem").filter(col("l_returnflag") === "R")
        .select("l_orderkey")
      t(s, d, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01") &&
          col("o_orderdate") < lit("1997-01-01"))
        .join(li, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    }, Some("""
      SELECT o_orderpriority, COUNT(*) AS order_count
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate < TIMESTAMP '1997-01-01'
        AND EXISTS (SELECT 1 FROM lineitem
                    WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
      GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // TPC-H Q15 shape: the top-revenue supplier(s) — a per-supplier
    // revenue view joined against its own global MAX (scalar subquery);
    // revenue is exact decimal end-to-end and the max row is selected by
    // decimal equality, so ties and boundaries replay exactly.
    ("q115_tpch_q15_shape", (s: SparkSession, d: String) => {
      val rev = t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1996-07-01"))
        .groupBy(col("l_suppkey").as("supplier_no"))
        .agg(sumRevenue.as("total_rev"))
      val top = rev.agg(max(col("total_rev")).as("mx"))
      rev.join(broadcast(top), col("total_rev") === col("mx"))
        .join(t(s, d, "supplier"), col("supplier_no") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          col("total_rev").cast("double").as("total_revenue"))
        .orderBy("s_suppkey")
    }, Some(s"""
      WITH rev AS (SELECT l_suppkey AS supplier_no,
          SUM($oRev) AS total_rev
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1996-07-01'
        GROUP BY 1)
      SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
      FROM rev JOIN supplier ON supplier_no = s_suppkey
      WHERE total_rev = (SELECT max(total_rev) FROM rev)
      ORDER BY s_suppkey""")),

    // TPC-H Q11 shape: parts holding an outsized share of total inventory
    // value — a grouped sum compared against a fraction of the GLOBAL sum.
    // The share threshold is division-free (part_value * 500 > total) in
    // exact decimal, so the boundary cannot rot across engines; the 1-row
    // global total broadcasts into the group filter.
    ("q116_tpch_q11_shape", (s: SparkSession, d: String) => {
      val value = Exact.dec(col("l_extendedprice"), 12) * qty
      val perPart = t(s, d, "lineitem")
        .groupBy("l_partkey").agg(sum(value).as("part_value"))
      val total = perPart.agg(sum(col("part_value")).as("total_value"))
      perPart.crossJoin(broadcast(total))
        .filter(col("part_value") * 500 > col("total_value"))
        .select(col("l_partkey"),
          col("part_value").cast("double").as("part_value"))
        .orderBy("l_partkey")
    }, Some(s"""
      WITH pv AS (SELECT l_partkey,
          SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * $oQty) AS part_value
        FROM lineitem GROUP BY 1)
      SELECT l_partkey, CAST(part_value AS DOUBLE) AS part_value
      FROM pv, (SELECT SUM(part_value) AS total_value FROM pv)
      WHERE part_value * 500 > total_value
      ORDER BY l_partkey""")),

    // TPC-H Q16 shape: distinct-supplier counts per (brand, size) for
    // non-excluded parts — suppliers with a high returned-on-finished
    // line RATE are blacklisted via an aggregated exclusion list
    // (NOT IN -> anti-join). The rate test is exact-integer
    // (100·n_rf > 11·n), so the blacklist boundary replays exactly.
    ("q117_tpch_q16_shape", (s: SparkSession, d: String) => {
      val excluded = t(s, d, "lineitem")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_suppkey").as("x_suppkey"))
        .agg(count(lit(1)).as("n"),
          count(when(col("l_returnflag") === "R" &&
            col("o_orderstatus") === "F", lit(1))).as("nrf"))
        .filter(col("nrf") * 100 > col("n") * 11)
        .select("x_suppkey")
      t(s, d, "lineitem")
        .join(t(s, d, "part").filter(col("p_size") <= 25),
          col("l_partkey") === col("p_partkey"))
        .join(excluded, col("l_suppkey") === col("x_suppkey"), "left_anti")
        .groupBy(col("p_brand"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_size"))
    }, Some("""
      WITH excl AS (
        SELECT l_suppkey FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1
        HAVING COUNT(*) FILTER (WHERE l_returnflag = 'R'
                 AND o_orderstatus = 'F') * 100 > COUNT(*) * 11)
      SELECT p_brand, p_size,
        CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE p_size <= 25
        AND l_suppkey NOT IN (SELECT l_suppkey FROM excl)
      GROUP BY 1, 2
      ORDER BY supplier_cnt DESC, p_brand, p_size""")),

    // STREAMING session windows through the gate (q24's semantics on the
    // real session_window operator): the events file stream aggregates
    // per-user gap-merged sessions in complete mode — session_window's
    // exclusive-gap merge rule ([t, last+gap); an event at exactly
    // last+gap opens a NEW session) is precisely q24's >=-gap
    // gaps-and-islands definition, which is what the oracle computes.
    ("q118_stream_session_window", (s: SparkSession, d: String) => {
      val stream = Tables.stream(s, d, "events")
        .groupBy(session_window(col("ts"), "1 hour"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          col("session_window.start").as("session_start"),
          col("session_window.end").as("session_end"),
          col("n_events"))
      Streams.drain(stream, "complete", sized(s, d))
        .orderBy("user_id", "session_start")
    }, Some("""
      WITH x AS (SELECT user_id, ts,
          CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                 OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL 1 HOUR
               THEN 1 ELSE 0 END AS new_s
        FROM events),
      y AS (SELECT user_id, ts,
          SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS sid
        FROM x)
      SELECT user_id, min(ts) AS session_start,
        max(ts) + INTERVAL 1 HOUR AS session_end,
        COUNT(*) AS n_events
      FROM y GROUP BY user_id, sid ORDER BY user_id, session_start""")),

    // STREAMING transformWithState (MapState) through the gate: the
    // events file stream feeds the per-user per-event-type MapState
    // counter (graft.streaming.Streams.TypeCountsProcessor) on the
    // RocksDB state store — the only store provider transformWithState
    // supports. Each batch emits every touched user's full current map;
    // max(n) per (user, type) over the update-mode emissions is the final
    // count, which the oracle recomputes as a plain batch GROUP BY. The
    // provider conf is restored afterwards so the session's other
    // streaming queries keep their default store.
    ("q129_tws_map_counts", (s: SparkSession, d: String) => {
      val providerKey = "spark.sql.streaming.stateStore.providerClass"
      val prior = s.conf.getOption(providerKey)
      s.conf.set(providerKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // r13 OPT negative (measured, do not re-try): RocksDB changelog
      // checkpointing (spark.sql.streaming.stateStore.rocksdb.
      // changelogCheckpointing.enabled=true) A/B'd at sf0.1 on the
      // q129+q400 family — q129 paired-min wall 1.84 -> 2.23 s (+21%),
      // CPU flat. With input-sized state (1-2 store instances) and 1-2
      // micro-batches the full-snapshot commit is already tiny; the
      // changelog path just adds a delta-file write + async maintenance.
      // The lever only pays when store count x batch count is large.
      try {
        val stream = Tables.stream(s, d, "events")
          .select(col("user_id"), col("event_type"))
        val out = Streams.userTypeCountsTws(s, stream)
        Streams.drain(out, "update", sized(s, d))
          .groupBy("user_id", "event_type")
          .agg(max(col("n")).as("n"))
          .orderBy("user_id", "event_type")
      } finally {
        prior match {
          case Some(v) => s.conf.set(providerKey, v)
          case None    => s.conf.unset(providerKey)
        }
      }
    }, Some("""
      SELECT user_id, event_type, COUNT(*) AS n
      FROM events GROUP BY 1, 2 ORDER BY user_id, event_type""")),

    // STREAMING stream-stream inner join through the gate: the events
    // file stream joins purchases to same-user views within the
    // preceding day (both sides watermarked — the time-range condition
    // plus the watermarks is Spark's state-eviction bound). Run to
    // completion the emitted matches are exactly the batch interval
    // join, which is what the oracle computes; watermarks bound STATE,
    // they drop no on-time data.
    ("q135_stream_stream_join", (s: SparkSession, d: String) => {
      val joined =
        Streams.purchaseViewJoin(Tables.stream(s, d, "events"), "24 hours")
      Streams.drain(joined, "append", sized(s, d))
        .select("user_id", "p_id", "v_id")
        .orderBy("user_id", "p_id", "v_id")
    }, Some("""
      SELECT p.user_id, p.event_id AS p_id, v.event_id AS v_id
      FROM events p JOIN events v
        ON p.user_id = v.user_id
        AND p.event_type = 'purchase' AND v.event_type = 'view'
        AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL 24 HOUR
      ORDER BY p.user_id, p_id, v_id""")),

    // §2.5 — correlated LATERAL subquery with ORDER BY + LIMIT (the
    // per-row top-k join SQL users write instead of a window), SAME SQL
    // text on both engines so the oracle checks Spark's lateral
    // decorrelation itself.
    ("q121_lateral_topk", (s: SparkSession, d: String) => {
      t(s, d, "nation").createOrReplaceTempView("nation")
      t(s, d, "customer").createOrReplaceTempView("customer")
      s.sql(lateralSql)
    }, Some(lateralSql)),

    // §2.5 — MapType construction and explosion: per-user event-type
    // counts folded into a map column (entries SORTED before
    // map_from_entries — collect_list's gather order is nondeterministic,
    // and map iteration follows insertion order) and exploded back. The
    // oracle is the plain grouped relation, so the compare proves the
    // map round-trip is lossless and deterministically ordered.
    ("q122_map_roundtrip", (s: SparkSession, d: String) => {
      t(s, d, "events")
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("user_id"))
        .agg(map_from_entries(sort_array(collect_list(
          struct(col("event_type"), col("n"))))).as("m"))
        .select(col("user_id"), explode(col("m")).as(Seq("event_type", "n")))
        .orderBy("user_id", "event_type")
    }, Some("""
      SELECT user_id, event_type, COUNT(*) AS n
      FROM events GROUP BY 1, 2 ORDER BY user_id, event_type""")),

    // §2.6 — the aggregate/zip_with higher-order-function pair on
    // embeddings: squared norm as a sequential left-to-right fold, which
    // is bit-identical to DuckDB's list_dot_product (same accumulation
    // order — the determinism contract the cosine oracle already relies
    // on). Norm ranks, not raw floats, would be the robust output at
    // scale; here the doubles themselves replay.
    ("q123_hof_dot_product", (s: SparkSession, d: String) => {
      t(s, d, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
        .select(col("vec_id"),
          aggregate(zip_with(col("e"), col("e"), (x, y) => x * y),
            lit(0.0), (acc, x) => acc + x).as("norm_sq"))
        .orderBy("vec_id")
    }, Some("""
      SELECT vec_id,
        list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS norm_sq
      FROM embeddings ORDER BY vec_id""")),

    // DataSourceV2 WRITE connector round-trip: events land through the
    // BatchWrite API (graft.sources.v2.AvroDaySink — per-task staged
    // files, commit-coordinated rename publish) as day-partitioned Avro
    // container files, and one day is read back through the OCF source.
    // The oracle filters the ORIGINAL parquet to the same day, proving
    // the connector's task-commit protocol loses and duplicates nothing.
    ("q120_dsv2_sink_roundtrip", (s: SparkSession, d: String) => {
      val base = s"/tmp/graft_dsv2/${new java.io.File(d).getName}"
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
      t(s, d, "events")
        .select(col("event_id"), col("user_id"), col("value"),
          date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .repartition(col("day"))
        .write.format("graft.sources.v2.AvroDaySink")
        .option("path", base).mode("append").save()
      import org.apache.spark.sql.types._
      val sch = StructType(Seq(
        StructField("event_id", LongType), StructField("user_id", LongType),
        StructField("value", DoubleType), StructField("day", StringType)))
      AvroOcf.read(s, s"$base/day=2024-01-05",
          AvroSerDe.avroSchemaFor("SinkRecord", sch), sch)
        .orderBy("event_id")
    }, Some("""
      SELECT event_id, user_id, value,
        strftime(date_trunc('day', ts), '%Y-%m-%d') AS day
      FROM events
      WHERE strftime(date_trunc('day', ts), '%Y-%m-%d') = '2024-01-05'
      ORDER BY event_id""")),

    // TPC-H Q6 shape: the forecasting revenue-change query — a pure
    // scan-side predicate plus ONE exact-decimal aggregate, no join at
    // all. Its whole value at scale is that every conjunct (date range,
    // discount band, quantity cap) reaches the parquet scan as a pushed
    // filter and the plan is scan -> partial agg -> final agg; pinned in
    // PlanQualitySpec. Discount bounds compare the same parquet doubles
    // against the same decimal literals in both engines.
    ("q124_tpch_q6_shape", (s: SparkSession, d: String) => {
      t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1997-01-01") &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .agg(Exact.sumProduct(price, disc).cast("double").as("revenue"))
    }, Some(s"""
      SELECT CAST(SUM($oPrice * $oDisc) AS DOUBLE) AS revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1997-01-01'
        AND l_discount >= 0.05 AND l_discount <= 0.07
        AND l_quantity < 24""")),

    // TPC-H Q13 shape: customer order-count distribution — LEFT OUTER
    // join so zero-order customers land in the c_count = 0 bucket, with
    // the order-side predicate inside the JOIN condition (in a WHERE it
    // would silently turn the outer join inner, the classic Q13 trap).
    // Both aggregations shuffle on small integer keys; counts stay BIGINT
    // end-to-end.
    ("q125_tpch_q13_shape", (s: SparkSession, d: String) => {
      val ord = t(s, d, "orders")
        .filter(col("o_orderpriority") =!= "1-URGENT")
        .select("o_custkey", "o_orderkey")
      t(s, d, "customer")
        .join(ord, col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }, Some("""
      SELECT c_count, COUNT(*) AS custdist
      FROM (SELECT c_custkey, COUNT(o_orderkey) AS c_count
            FROM customer LEFT OUTER JOIN orders
              ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
            GROUP BY c_custkey) c_orders
      GROUP BY c_count
      ORDER BY custdist DESC, c_count DESC""")),

    // TPC-H Q8 shape: national market share — the six-table dimension
    // star (customer nation->region gates the market to ASIA, supplier
    // nation tags each sale) with a per-year conditional share. The share
    // is emitted as exact NUMERATOR and DENOMINATOR decimal sums instead
    // of one division: the division's last-bit rounding is
    // engine-specific, the two exact sums are not — consumers divide at
    // the edge. Every dimension side is an explicit broadcast; only
    // lineitem x orders shuffles.
    ("q126_tpch_q8_shape", (s: SparkSession, d: String) => {
      val custAsia = t(s, d, "customer")
        .join(broadcast(t(s, d, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region").filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("c_custkey"))
      val supNation = t(s, d, "supplier")
        .join(broadcast(t(s, d, "nation")
          .select(col("n_nationkey").as("sn_key"),
            col("n_name").as("supp_nation"))),
          col("s_nationkey") === col("sn_key"))
        .select(col("s_suppkey"), col("supp_nation"))
      t(s, d, "lineitem")
        .join(broadcast(t(s, d, "part").filter(col("p_type") === "ECONOMY")),
          col("l_partkey") === col("p_partkey"))
        .join(t(s, d, "orders")
          .filter(col("o_orderdate") >= lit("1995-01-01") &&
            col("o_orderdate") < lit("1997-01-01")),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(custAsia), col("o_custkey") === col("c_custkey"))
        .join(broadcast(supNation), col("l_suppkey") === col("s_suppkey"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg(Exact.sumProduct(when(col("supp_nation") === "NATION_7", price),
            Exact.one - disc)
            .cast("double").as("mkt_num"),
          sumRevenue.cast("double").as("mkt_den"))
        .orderBy("o_year")
    }, Some(s"""
      SELECT CAST(year(o_orderdate) AS INT) AS o_year,
        CAST(SUM(CASE WHEN n2.n_name = 'NATION_7' THEN $oRev END) AS DOUBLE) AS mkt_num,
        CAST(SUM($oRev) AS DOUBLE) AS mkt_den
      FROM lineitem
      JOIN part ON l_partkey = p_partkey AND p_type = 'ECONOMY'
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region ON n1.n_regionkey = r_regionkey AND r_name = 'ASIA'
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        AND o_orderdate < TIMESTAMP '1997-01-01'
      GROUP BY 1 ORDER BY o_year""")),

    // TPC-H Q9 shape (adapted): product-type profit by supplier nation
    // and order year. The testdata ships no partsupp table, so the profit
    // measure drops the ps_supplycost term and is plain revenue; the
    // SHAPE — a part-name LIKE filter fanned across lineitem, supplier
    // nation + order year rollup over the full date range — is Q9's.
    ("q127_tpch_q9_shape", (s: SparkSession, d: String) => {
      val supNation = t(s, d, "supplier")
        .join(broadcast(t(s, d, "nation")
          .select(col("n_nationkey").as("sn_key"),
            col("n_name").as("supp_nation"))),
          col("s_nationkey") === col("sn_key"))
        .select(col("s_suppkey"), col("supp_nation"))
      t(s, d, "lineitem")
        .join(broadcast(t(s, d, "part").filter(col("p_name").contains("widget"))),
          col("l_partkey") === col("p_partkey"))
        .join(t(s, d, "orders").select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(supNation), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("supp_nation").as("nation"),
          year(col("o_orderdate")).as("o_year"))
        .agg(sumRevenue.cast("double").as("sum_profit"))
        .orderBy(col("nation"), col("o_year").desc)
    }, Some(s"""
      SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
        CAST(SUM($oRev) AS DOUBLE) AS sum_profit
      FROM lineitem
      JOIN part ON l_partkey = p_partkey AND p_name LIKE '%widget%'
      JOIN orders ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      GROUP BY 1, 2 ORDER BY nation, o_year DESC""")),

    // §2.5 SQL surface — GROUP BY ALL (infer the grouping set from the
    // non-aggregate select items): the SAME SQL text runs on Spark and
    // DuckDB, so the oracle checks Spark's grouping-inference itself, the
    // q59/q104/q121 pattern applied to the newest SQL sugar.
    ("q128_group_by_all", (s: SparkSession, d: String) => {
      t(s, d, "lineitem").createOrReplaceTempView("lineitem")
      s.sql(groupByAllSql)
    }, Some(groupByAllSql)),

    // S8 widening — the binaryFile source, Spark's scan for raw
    // unstructured payloads (images/audio/documents landed one file
    // each): documents are written one UTF-8 file per doc by a task-side
    // writer, then read back through format("binaryFile") — (path,
    // length, content) — with the id recovered from the filename and the
    // bytes decoded. The oracle is the original documents relation, so
    // the compare proves the file round-trip loses nothing and `length`
    // really is the byte length (ASCII corpus: strlen == octet count).
    ("q130_binaryfile_scan", (s: SparkSession, d: String) => {
      val base = s"/tmp/graft_binfiles/${new java.io.File(d).getName}"
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
      new java.io.File(base).mkdirs()
      t(s, d, "documents").select(col("doc_id"), col("text"))
        .repartition(8)
        .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
          it.foreach { r =>
            val f = new java.io.File(base, f"doc_${r.getLong(0)}%08d.txt")
            java.nio.file.Files.write(f.toPath, r.getString(1).getBytes("UTF-8"))
          }
        }
      s.read.format("binaryFile").load(base)
        .select(
          regexp_extract(col("path"), "doc_(\\d+)\\.txt", 1)
            .cast("long").as("doc_id"),
          col("content").cast("string").as("text"),
          col("length"))
        .orderBy("doc_id")
    }, Some("""
      SELECT doc_id, text, CAST(strlen(text) AS BIGINT) AS length
      FROM documents ORDER BY doc_id""")),

    // §2.5 SQL surface — the standard UNPIVOT clause (q26 is the stack()
    // formulation; this is the SQL-standard syntax), SAME text on both
    // engines so the oracle checks Spark's UNPIVOT parsing/semantics
    // itself. The measure doubles pass through untouched — no arithmetic
    // to rot.
    ("q136_unpivot_sql", (s: SparkSession, d: String) => {
      t(s, d, "lineitem").createOrReplaceTempView("lineitem")
      s.sql(unpivotSql)
    }, Some(unpivotSql)),

    // §2.5 SQL surface — the standard PIVOT clause (q28 is the DataFrame
    // .pivot), SAME text on both engines: exact-decimal sums per pivot
    // bucket, cast to double only in the outer projection (which both
    // engines parse identically since the pivot output columns F/O are
    // plain identifiers).
    ("q137_pivot_sql", (s: SparkSession, d: String) => {
      t(s, d, "lineitem").createOrReplaceTempView("lineitem")
      s.sql(pivotSql)
    }, Some(pivotSql)),

    // §2.5 — null-safe equi-join (<=>): priorities are NULLed for one
    // value and the join must match NULL to NULL. Spark plans eqNullSafe
    // as a REAL equi-join key (coalesce-wrapped hash key — no nested-loop
    // fallback; pinned in PlanQualitySpec); the oracle is DuckDB's
    // IS NOT DISTINCT FROM.
    ("q138_nullsafe_join", (s: SparkSession, d: String) => {
      val l = t(s, d, "orders").filter(col("o_orderkey") < 100)
        .select(col("o_orderkey"),
          nullif(col("o_orderpriority"), lit("3-MEDIUM")).as("pr1"))
      val r = t(s, d, "orders")
        .filter(col("o_orderkey") >= 100 && col("o_orderkey") < 200)
        .select(col("o_orderkey").as("rk"),
          nullif(col("o_orderpriority"), lit("3-MEDIUM")).as("pr2"))
      l.join(r, col("pr1") <=> col("pr2"))
        .select(col("o_orderkey"), col("rk"))
        .orderBy("o_orderkey", "rk")
    }, Some("""
      WITH l AS (SELECT o_orderkey, nullif(o_orderpriority, '3-MEDIUM') AS pr1
                 FROM orders WHERE o_orderkey < 100),
      r AS (SELECT o_orderkey AS rk, nullif(o_orderpriority, '3-MEDIUM') AS pr2
            FROM orders WHERE o_orderkey >= 100 AND o_orderkey < 200)
      SELECT l.o_orderkey, r.rk FROM l JOIN r
        ON pr1 IS NOT DISTINCT FROM pr2
      ORDER BY o_orderkey, rk""")),

    // Gap-fill / forward-fill (ops.Fill): per-user carry-forward of the
    // last non-null observation in event order — values for 'error'
    // events are masked to NULL and must be refilled from the user's
    // most recent non-error event; leading NULLs stay NULL. One keyed
    // window, no self-join; the doubles are carried, never recomputed.
    ("q139_forward_fill", (s: SparkSession, d: String) => {
      val masked = t(s, d, "events")
        .select(col("event_id"), col("user_id"), col("ts"),
          when(col("event_type") === "error", lit(null))
            .otherwise(col("value")).as("v"))
      Fill.forwardFill(masked, Seq(col("user_id")),
          Seq(col("ts"), col("event_id")), "v", "v_filled")
        .select(col("event_id"), col("user_id"), col("v_filled"))
        .orderBy("event_id")
    }, Some("""
      WITH m AS (SELECT event_id, user_id, ts,
          CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
        FROM events)
      SELECT event_id, user_id,
        last_value(v IGNORE NULLS) OVER (PARTITION BY user_id
          ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS v_filled
      FROM m ORDER BY event_id"""))
  )

  private val moreEntries: Seq[(String, Q, Option[String])] = Seq(
    // Spark 4 VARIANT — the semi-structured column type: props parses
    // ONCE into a variant (binary-encoded, shredded access — at scale
    // this replaces per-query JSON string re-parsing), then typed paths
    // are extracted and aggregated. The oracle re-derives the same ints
    // with DuckDB's JSON extraction.
    ("q140_variant_extract", (s: SparkSession, d: String) => {
      t(s, d, "events")
        .select(col("event_type"),
          variant_get(parse_json(col("props")), "$.k", "int").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("k").cast("long")).as("sum_k"),
          max(col("k")).as("max_k"))
        .orderBy("event_type")
    }, Some("""
      SELECT event_type, COUNT(*) AS n,
        CAST(SUM(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
        CAST(MAX(CAST(json_extract(props, '$.k') AS INT)) AS INT) AS max_k
      FROM events GROUP BY 1 ORDER BY event_type""")),

    // Behavioral funnel: each user's first view, their first purchase
    // AT-OR-AFTER it, purchase count in the window, and a conversion
    // flag — the sessionized product-analytics join (left outer with the
    // time bound inside the join condition so non-converters survive
    // with NULLs).
    ("q142_funnel_conversion", (s: SparkSession, d: String) => {
      val e = t(s, d, "events")
      val firstView = e.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts").as("first_view"))
      val purch = e.filter(col("event_type") === "purchase")
        .select(col("user_id").as("pu"), col("ts").as("pts"))
      firstView.join(purch,
          col("user_id") === col("pu") && col("pts") >= col("first_view"),
          "left_outer")
        .groupBy("user_id", "first_view")
        .agg(min(col("pts")).as("first_purchase"),
          count(col("pts")).as("n_purchases"))
        .withColumn("converted", col("first_purchase").isNotNull)
        .orderBy("user_id")
    }, Some("""
      WITH fv AS (SELECT user_id, min(ts) AS first_view
                  FROM events WHERE event_type = 'view' GROUP BY 1),
      p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase')
      SELECT fv.user_id, first_view, min(p.ts) AS first_purchase,
        COUNT(p.ts) AS n_purchases,
        (min(p.ts) IS NOT NULL) AS converted
      FROM fv LEFT JOIN p
        ON fv.user_id = p.user_id AND p.ts >= first_view
      GROUP BY 1, 2 ORDER BY fv.user_id""")),

    // S2 range discovery as a COMPLETELY pushed DSv2 aggregate: the
    // ungrouped COUNT/MIN/MAX over the day-window connector is answered
    // from day-grid METADATA (SupportsPushDownAggregates — the exact
    // analogue of the reference's two sorted limit=1 REST probes), zero
    // row fetches; DayWindowSourceSpec pins that no HashAggregate
    // survives in the plan. The oracle rebuilds the grid and aggregates
    // it for real.
    ("q143_daywindow_discovery", (s: SparkSession, d: String) => {
      s.read.format("graft.sources.v2.DayWindowSource")
        .option("from", "2024-01-01").option("to", "2024-01-16").load()
        .agg(count(lit(1)).as("n_rows"),
          min("HourUTC").as("first_hour"),
          max("HourUTC").as("last_hour"))
    }, Some("""
      WITH g AS (SELECT strftime(d, '%Y-%m-%d') || 'T' ||
          lpad(CAST(h AS VARCHAR), 2, '0') || ':00' AS HourUTC
        FROM (SELECT unnest(range(DATE '2024-01-01', DATE '2024-01-17',
                INTERVAL 1 DAY)) AS d),
             (SELECT unnest(range(24)) AS h),
             (SELECT unnest(['101', '155', '630']) AS m),
             (SELECT unnest(['Erhverv', 'Privat']) AS b))
      SELECT COUNT(*) AS n_rows, MIN(HourUTC) AS first_hour,
        MAX(HourUTC) AS last_hour
      FROM g""")),

    // Catalog-managed warehouse round-trip: publish orders as a managed
    // parquet table partitioned by status (CREATE TABLE ... USING parquet
    // PARTITIONED BY via saveAsTable), dynamic-partition INSERT OVERWRITE
    // the 'F' partition with doubled totals (only that partition's files
    // are replaced), then aggregate through a catalog read. CatalogSpec
    // pins partition pruning on the read-back and that untouched
    // partitions survive the dynamic overwrite byte-for-byte. The oracle
    // replays the final table state from the source parquet.
    ("q146_catalog_roundtrip", (s: SparkSession, d: String) => {
      import graft.sources.Warehouse
      val db = "graft_wh"
      val dbLoc = s"${System.getProperty("java.io.tmpdir")}/graft_wh_db"
      s.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$dbLoc'")
      // Idempotent re-run: the in-memory catalog forgets the table across
      // sessions but its managed location persists — drop both.
      s.sql(s"DROP TABLE IF EXISTS $db.orders_pt")
      val tblLoc = new org.apache.hadoop.fs.Path(s"$dbLoc/orders_pt")
      tblLoc.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(tblLoc, true)
      val base = t(s, d, "orders").select(col("o_orderkey"),
        col("o_custkey"), col("o_totalprice"), col("o_orderstatus"))
      Warehouse.publish(base, s"$db.orders_pt", Seq("o_orderstatus"))
      Warehouse.overwritePartitions(
        base.filter(col("o_orderstatus") === "F")
          .withColumn("o_totalprice", col("o_totalprice") * 2),
        s"$db.orders_pt")
      s.table(s"$db.orders_pt")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), Exact.sumD(col("o_totalprice"), 16).as("total"))
        .orderBy("o_orderstatus")
    }, Some("""
      SELECT o_orderstatus, COUNT(*) AS n,
        CAST(SUM(CAST(CASE WHEN o_orderstatus = 'F' THEN o_totalprice * 2
                           ELSE o_totalprice END AS DECIMAL(16,2))) AS DOUBLE) AS total
      FROM orders GROUP BY 1 ORDER BY o_orderstatus""")),

    // Approximate-sketch family under an EXACT gate: approx_percentile
    // (rank-error <= n/accuracy) and approx_count_distinct (HLL++) run
    // for real, then the query itself verifies each sketch against
    // exactly-computed bounds and emits (metric, exact target, in-bounds
    // boolean). The hash compare bites: a sketch drifting out of its
    // guarantee flips a boolean and fails the oracle — the
    // "exactness-window" discipline for operators whose raw outputs are
    // engine-specific. Sketch answers never leave the query unverified.
    ("q147_approx_bounds", (s: SparkSession, d: String) => {
      val li = t(s, d, "lineitem")
      val sketch = li.agg(
        count(lit(1)).as("n"),
        expr("approx_percentile(l_extendedprice, array(0.25D, 0.5D, 0.75D, 0.95D), 1000)")
          .as("vp"),
        approx_count_distinct(col("l_orderkey"), 0.05).as("acd"),
        countDistinct(col("l_orderkey")).as("ncd"))
      val ranks = li.crossJoin(broadcast(sketch)).agg(
        first(col("n")).as("n"), first(col("acd")).as("acd"),
        first(col("ncd")).as("ncd"),
        count(when(col("l_extendedprice") <= element_at(col("vp"), 1), 1)).as("r1"),
        count(when(col("l_extendedprice") <= element_at(col("vp"), 2), 1)).as("r2"),
        count(when(col("l_extendedprice") <= element_at(col("vp"), 3), 1)).as("r3"),
        count(when(col("l_extendedprice") <= element_at(col("vp"), 4), 1)).as("r4"))
      def pRow(nm: String, p: Double, r: org.apache.spark.sql.Column) = {
        val target = floor(lit(p) * col("n")).cast("long")
        val tol = (col("n") / lit(500)).cast("long") + 2 // 2x the n/1000 rank guarantee
        struct(lit(nm).as("metric"), target.as("target"),
          (r >= target - tol && r <= target + tol).as("approx_ok"))
      }
      ranks.select(explode(array(
          pRow("p25", 0.25, col("r1")), pRow("p50", 0.5, col("r2")),
          pRow("p75", 0.75, col("r3")), pRow("p95", 0.95, col("r4")),
          struct(lit("distinct").as("metric"), col("ncd").as("target"),
            (abs(col("acd") - col("ncd")) <= lit(0.15) * col("ncd"))
              .as("approx_ok")))).as("m"))
        .select(col("m.metric").as("metric"), col("m.target").as("target"),
          col("m.approx_ok").as("approx_ok"))
        .orderBy("metric")
    }, Some("""
      WITH n AS (SELECT COUNT(*) AS n FROM lineitem),
      d AS (SELECT COUNT(DISTINCT l_orderkey) AS ncd FROM lineitem)
      SELECT 'distinct' AS metric, CAST(ncd AS BIGINT) AS target,
        true AS approx_ok FROM d
      UNION ALL SELECT 'p25', CAST(floor(0.25 * n) AS BIGINT), true FROM n
      UNION ALL SELECT 'p50', CAST(floor(0.5 * n) AS BIGINT), true FROM n
      UNION ALL SELECT 'p75', CAST(floor(0.75 * n) AS BIGINT), true FROM n
      UNION ALL SELECT 'p95', CAST(floor(0.95 * n) AS BIGINT), true FROM n
      ORDER BY metric""")),

    // Z-order layout: Morton-interleave (l_partkey, l_suppkey), split the
    // z range into 64 equal-width file buckets (width from one broadcast
    // max — deterministic, unlike a sampling range partitioner), and emit
    // each bucket's min/max envelope in BOTH dimensions — the per-file
    // statistics a z-ordered write would give a pruning scan. All exact
    // integer bit arithmetic; the oracle replays the identical interleave
    // expression (generated from the same loop).
    ("q151_zorder_layout", (s: SparkSession, d: String) => {
      import graft.ops.Layout
      val li = t(s, d, "lineitem").select(
        col("l_partkey").cast("long").as("pk"),
        col("l_suppkey").cast("long").as("sk"))
      val z = li.withColumn("z", Layout.zValue(col("pk"), col("sk"), 16))
      val width = z.agg((expr("max(z) div 64") + 1).as("width"))
      z.crossJoin(broadcast(width))
        .withColumn("bucket", expr("z div width"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          min("pk").as("pk_min"), max("pk").as("pk_max"),
          min("sk").as("sk_min"), max("sk").as("sk_max"))
        .orderBy("bucket")
    }, Some(s"""
      WITH b AS (SELECT
          ${graft.ops.Layout.zSqlDuck("CAST(l_partkey AS BIGINT)",
            "CAST(l_suppkey AS BIGINT)", 16)} AS z,
          l_partkey AS pk, l_suppkey AS sk
        FROM lineitem),
      w AS (SELECT (MAX(z) // 64) + 1 AS width FROM b)
      SELECT z // width AS bucket, COUNT(*) AS n,
        MIN(pk) AS pk_min, MAX(pk) AS pk_max,
        MIN(sk) AS sk_min, MAX(sk) AS sk_max
      FROM b, w GROUP BY 1 ORDER BY bucket""")),

    // Stream-STATIC join executed for real through a micro-batch run:
    // the events stream is enriched per trigger with a broadcast customer
    // dimension (no streaming state — the stateless enrichment shape),
    // then aggregated per (segment, event_type) in complete mode. The
    // oracle computes the same enrichment + aggregate in batch.
    ("q152_stream_static_join", (s: SparkSession, d: String) => {
      val stream = Tables.stream(s, d, "events")
      val dim = t(s, d, "customer")
        .select(col("c_custkey").as("user_id"),
          col("c_mktsegment").as("segment"))
      val enriched = Streams.enrichWithDim(stream, dim, Seq("user_id"))
      val aggd = enriched.groupBy("segment", "event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(16,2)")).as("sum_v"))
      Streams.drain(aggd, "complete", sized(s, d))
        .select(col("segment"), col("event_type"), col("n"),
          col("sum_v").cast("double").as("sum_v"))
        .orderBy("segment", "event_type")
    }, Some("""
      SELECT c_mktsegment AS segment, event_type, COUNT(*) AS n,
        CAST(SUM(CAST(value AS DECIMAL(16,2))) AS DOUBLE) AS sum_v
      FROM events JOIN customer ON user_id = c_custkey
      GROUP BY 1, 2 ORDER BY segment, event_type""")),

    // HLL sketch STORE (Datasketches): per-status sketches of customer
    // cardinality — the persisted pre-aggregate that answers distinct
    // questions without re-scanning — union-merged to the corpus total
    // (the mergeability no exact distinct count has). Gated exactly, the
    // q147 discipline: per-group AND merged estimates must land within
    // 5% of the exactly-computed cardinality or the emitted boolean
    // flips and fails the hash compare.
    ("q157_hll_sketch_store", (s: SparkSession, d: String) => {
      val o = t(s, d, "orders")
      val sk = o.groupBy("o_orderstatus").agg(
        hll_sketch_agg(col("o_custkey")).as("sk"),
        countDistinct(col("o_custkey")).as("exact"))
      val per = sk.select(col("o_orderstatus"), col("exact"),
        (abs(hll_sketch_estimate(col("sk")) - col("exact")) <=
          lit(0.05) * col("exact")).as("approx_ok"))
      val tot = sk.agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
        .crossJoin(broadcast(o.agg(
          countDistinct(col("o_custkey")).as("exact"))))
        .select(lit("ALL").as("o_orderstatus"), col("exact"),
          (abs(col("est") - col("exact")) <= lit(0.05) * col("exact"))
            .as("approx_ok"))
      per.union(tot).orderBy("o_orderstatus")
    }, Some("""
      SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS exact,
        true AS approx_ok
      FROM orders GROUP BY 1
      UNION ALL
      SELECT 'ALL', COUNT(DISTINCT o_custkey), true FROM orders
      ORDER BY o_orderstatus""")),

    // Batch CDC: snapshot-diff two versions of orders (F totals doubled =
    // updates, P rows re-keyed = deletes + inserts) with ONE null-safe
    // full-outer join, aggregated to per-class counts.
    ("q158_snapshot_diff", (s: SparkSession, d: String) => {
      import graft.ops.Cdc
      val base = t(s, d, "orders").select(col("o_orderkey"),
        col("o_custkey"), col("o_totalprice"), col("o_orderstatus"))
      val newer = base.filter(col("o_orderstatus") =!= "P")
        .withColumn("o_totalprice",
          when(col("o_orderstatus") === "F", col("o_totalprice") * 2)
            .otherwise(col("o_totalprice")))
        .union(base.filter(col("o_orderstatus") === "P")
          .withColumn("o_orderkey", col("o_orderkey") + 10000000L))
      Cdc.snapshotDiff(base, newer, Seq("o_orderkey"),
          Seq("o_custkey", "o_totalprice", "o_orderstatus"))
        .groupBy("change").agg(count(lit(1)).as("n"))
        .orderBy("change")
    }, Some("""
      WITH newer AS (
        SELECT o_orderkey, o_custkey,
          CASE WHEN o_orderstatus = 'F' THEN o_totalprice * 2
               ELSE o_totalprice END AS o_totalprice, o_orderstatus
        FROM orders WHERE o_orderstatus <> 'P'
        UNION ALL
        SELECT o_orderkey + 10000000, o_custkey, o_totalprice, o_orderstatus
        FROM orders WHERE o_orderstatus = 'P'),
      j AS (SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS k,
          CASE WHEN n.o_orderkey IS NULL THEN 'delete'
               WHEN o.o_orderkey IS NULL THEN 'insert'
               WHEN o.o_custkey IS DISTINCT FROM n.o_custkey
                 OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
                 OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
                 THEN 'update'
               ELSE 'unchanged' END AS change
        FROM orders o FULL OUTER JOIN newer n ON o.o_orderkey = n.o_orderkey)
      SELECT change, COUNT(*) AS n FROM j GROUP BY 1 ORDER BY change""")),

    // TPC-H Q20 shape — the last of the 22: a correlated-aggregate
    // threshold inside a nested semi-join chain. No partsupp table in the
    // testdata, so (suppkey, partkey) inventory rows are derived from
    // lineitem itself: suppliers who, on some 'small%' part, shipped more
    // over all time than DOUBLE their 1995 volume on that part (the
    // availqty > 0.5*qty(year) compare, rewritten multiplication-only so
    // no division rounding can flip a boundary row), semi-joined up to the
    // supplier list and filtered to two nations. At scale: part prefilter
    // broadcasts into the fact scan; the per-(supp,part) aggregate is
    // map-side combined; supplier semi-join carries distinct suppkeys only.
    ("q159_tpch_q20_shape", (s: SparkSession, d: String) => {
      val smallParts = t(s, d, "part")
        .filter(col("p_name").startsWith("small")).select("p_partkey")
      val qualifying = t(s, d, "lineitem")
        .join(broadcast(smallParts), col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_suppkey"), col("l_partkey"))
        .agg(Exact.sum(qty).as("total_qty"),
          Exact.sum(when(col("l_shipdate") >= lit("1995-01-01") &&
            col("l_shipdate") < lit("1996-01-01"), qty)).as("qty_95"))
        .filter(col("total_qty") > coalesce(col("qty_95"),
          lit(0).cast("decimal(10,2)")) * 2)
        .select(col("l_suppkey")).distinct()
      t(s, d, "supplier")
        .join(broadcast(t(s, d, "nation")
            .filter(col("n_name").isin("NATION_1", "NATION_3"))),
          col("s_nationkey") === col("n_nationkey"))
        .join(qualifying, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select("s_name", "s_acctbal").orderBy("s_name")
    }, Some(s"""
      WITH ps AS (
        SELECT l_suppkey, l_partkey,
          SUM($oQty) AS total_qty,
          SUM($oQty) FILTER (WHERE l_shipdate >= TIMESTAMP '1995-01-01'
            AND l_shipdate < TIMESTAMP '1996-01-01') AS qty_95
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_name LIKE 'small%'
        GROUP BY 1, 2)
      SELECT s_name, s_acctbal
      FROM supplier JOIN nation ON s_nationkey = n_nationkey
      WHERE n_name IN ('NATION_1', 'NATION_3')
        AND s_suppkey IN (SELECT l_suppkey FROM ps
          WHERE total_qty > COALESCE(qty_95, CAST(0 AS DECIMAL(10,2))) * 2)
      ORDER BY s_name""")),

    // Bloom-filter pre-filtered join: the small side's keys build a 8192-bit
    // bloom bitmap (one map-side-combined bit_or aggregate), broadcast as a
    // ONE-ROW array into a codegen'd probe over the fact scan — the
    // explicit form of Spark's runtime row-level filtering. The gate
    // verifies the SKETCH itself, not just the join: the oracle replays
    // every XXH64 bit position in DuckDB, so n_pass (bloom positives),
    // n_true (exact semi-join), and the no-false-negatives invariant all
    // hash-compare. At 100 TB the fact side never shuffles for the
    // pre-filter; only rows surviving the bloom reach the join exchange.
    ("q160_bloom_join", (s: SparkSession, d: String) => {
      val mBits = 8192; val k = 3
      val dimKeys = t(s, d, "supplier")
        .filter(col("s_nationkey") === 0).select(col("s_suppkey"))
      val bloom = Sketches.bloomBitmap(dimKeys, "s_suppkey", mBits, k)
      t(s, d, "lineitem").select(col("l_suppkey"))
        .crossJoin(broadcast(bloom))
        .withColumn("bpass",
          Sketches.bloomMightContain(col("bloom"), col("l_suppkey"), mBits, k))
        .join(broadcast(dimKeys.withColumn("hit", lit(1))),
          col("l_suppkey") === col("s_suppkey"), "left")
        .agg(count(lit(1)).as("n_total"),
          count(when(col("bpass"), 1)).as("n_pass"),
          count(col("hit")).as("n_true"),
          count(when(col("bpass") && col("hit").isNotNull, 1)).as("n_tp"))
        .select(col("n_total"), col("n_pass"), col("n_true"),
          (col("n_tp") === col("n_true")).as("fn_free"))
    }, Some {
      // The three family hashes run through the linear per-step chain
      // (hashLongSubquery) instead of six xxLongMod inline macros — the
      // macro text made this the corpus's largest statement (1.6 MB) and
      // its per-row evaluation duplicated the argument ~1000x.
      val kh = xxLongModChain(
        "(SELECT DISTINCT s_suppkey AS k FROM supplier WHERE s_nationkey = 0)",
        Seq("k"), "k", 3)
      val ph = xxLongModChain(
        "(SELECT DISTINCT l_suppkey FROM lineitem)",
        Seq("l_suppkey"), "l_suppkey", 3)
      s"""
      WITH kh AS (SELECT k, h0 % 8192 AS p0, h1 % 8192 AS p1,
          h2 % 8192 AS p2 FROM $kh _kh),
      bits AS (SELECT DISTINCT pos FROM (
        SELECT p0 AS pos FROM kh
        UNION ALL SELECT p1 FROM kh
        UNION ALL SELECT p2 FROM kh)),
      dkp AS (SELECT l_suppkey,
          h0 % 8192 IN (SELECT pos FROM bits)
          AND h1 % 8192 IN (SELECT pos FROM bits)
          AND h2 % 8192 IN (SELECT pos FROM bits)
            AS bpass,
          l_suppkey IN (SELECT k FROM kh) AS hit
        FROM $ph _ph),
      probe AS (SELECT d.bpass, d.hit
        FROM lineitem l JOIN dkp d USING (l_suppkey))
      SELECT COUNT(*) AS n_total,
        COUNT(*) FILTER (WHERE bpass) AS n_pass,
        COUNT(*) FILTER (WHERE hit) AS n_true,
        COUNT(*) FILTER (WHERE bpass AND hit) =
          COUNT(*) FILTER (WHERE hit) AS fn_free
      FROM probe"""
    }),

    // Count-min sketch frequency store: depth 3 x width 4096 long counters
    // in ONE array via a custom Aggregator whose partial states merge
    // map-side (the shuffle carries one 12k-long array per partition, not
    // rows). Estimates for the top-10 true-frequency keys are read back
    // from the broadcast sketch and gated against the exact counts —
    // est >= true always (CMS one-sided error), and the ESTIMATES
    // themselves hash-compare because the oracle rebuilds every counter
    // cell from the replayed XXH64 positions.
    ("q161_cms_frequency", (s: SparkSession, d: String) => {
      val depth = 3; val width = 4096
      val keys = t(s, d, "lineitem").select(col("l_partkey"))
      val cms = Sketches.countMinSketch(keys, "l_partkey", depth, width)
      val top = keys.groupBy("l_partkey").agg(count(lit(1)).as("true_cnt"))
        .orderBy(col("true_cnt").desc, col("l_partkey")).limit(10)
      top.crossJoin(broadcast(cms))
        .withColumn("est", Sketches.countMinEstimate(
          col("sketch"), col("l_partkey"), depth, width))
        .select(col("l_partkey"), col("true_cnt"), col("est"),
          (col("est") >= col("true_cnt")).as("lower_ok"))
        .orderBy(col("true_cnt").desc, col("l_partkey"))
    }, Some {
      // Family hashes via the linear chain — see q160's rationale.
      val ch = xxLongModChain(
        "(SELECT l_partkey AS k, COUNT(*) AS true_cnt FROM lineitem GROUP BY 1)",
        Seq("k", "true_cnt"), "k", 3)
      s"""
      WITH cnt AS (SELECT k, true_cnt, h0 % 4096 AS p0, h1 % 4096 AS p1,
          h2 % 4096 AS p2 FROM $ch _ch),
      pos AS (SELECT k, true_cnt, 0 AS i, p0 AS pos FROM cnt
        UNION ALL SELECT k, true_cnt, 1, p1 FROM cnt
        UNION ALL SELECT k, true_cnt, 2, p2 FROM cnt),
      cells AS (SELECT i, pos, SUM(true_cnt) AS cc FROM pos GROUP BY 1, 2),
      top AS (SELECT k, true_cnt FROM cnt ORDER BY true_cnt DESC, k LIMIT 10),
      est AS (SELECT p.k, p.true_cnt, MIN(cc) AS est
        FROM pos p JOIN top tp ON p.k = tp.k
        JOIN cells c ON c.i = p.i AND c.pos = p.pos
        GROUP BY 1, 2)
      SELECT k AS l_partkey, true_cnt, CAST(est AS BIGINT) AS est,
        est >= true_cnt AS lower_ok
      FROM est ORDER BY true_cnt DESC, l_partkey"""
    }),

    // Time-series linear interpolation over a gapped daily series: a
    // two-month day spine left-joins daily order counts, every day not
    // divisible by 3 is masked to null, and ops.Fill.interpolateLinear
    // reconstructs the gaps between the nearest known points (per-month
    // partitions; leading/trailing gaps take the nearest known value
    // flat). The lerp is one fixed-order IEEE expression over exact
    // integer day deltas, so interpolated doubles hash-compare.
    ("q165_interpolate_series", (s: SparkSession, d: String) => {
      val daily = t(s, d, "orders")
        .filter(col("o_orderdate") >= lit("1995-01-01") &&
          col("o_orderdate") < lit("1995-03-01"))
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("n"))
      val spine = s.range(1).select(explode(sequence(
        to_date(lit("1995-01-01")), to_date(lit("1995-02-28")))).as("day"))
      val sparse = spine.join(daily, Seq("day"), "left")
        .select(col("day"), month(col("day")).as("mo"),
          datediff(col("day"), to_date(lit("1995-01-01"))).as("t"),
          when(datediff(col("day"), to_date(lit("1995-01-01"))) % 3 === 0,
            col("n").cast("double")).as("v"))
      Fill.interpolateLinear(sparse, Seq(col("mo")), "t", "v", "v_interp")
        .select(col("day"), col("v_interp")).orderBy("day")
    }, Some("""
      WITH spine AS (SELECT CAST(unnest(generate_series(DATE '1995-01-01',
          DATE '1995-02-28', INTERVAL 1 DAY)) AS DATE) AS day),
      daily AS (SELECT CAST(o_orderdate AS DATE) AS day, COUNT(*) AS n
        FROM orders WHERE o_orderdate >= TIMESTAMP '1995-01-01'
          AND o_orderdate < TIMESTAMP '1995-03-01' GROUP BY 1),
      sp AS (SELECT s.day, month(s.day) AS mo,
          date_diff('day', DATE '1995-01-01', s.day) AS t,
          CASE WHEN date_diff('day', DATE '1995-01-01', s.day) % 3 = 0
               THEN CAST(n AS DOUBLE) END AS v
        FROM spine s LEFT JOIN daily ON s.day = daily.day),
      w AS (SELECT day, t, v,
          last_value(v IGNORE NULLS) OVER (PARTITION BY mo ORDER BY t
            ROWS UNBOUNDED PRECEDING) AS pv,
          last_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS)
            OVER (PARTITION BY mo ORDER BY t
              ROWS UNBOUNDED PRECEDING) AS pt,
          first_value(v IGNORE NULLS) OVER (PARTITION BY mo ORDER BY t
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
          first_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS)
            OVER (PARTITION BY mo ORDER BY t
              ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
        FROM sp)
      SELECT day, CASE WHEN v IS NOT NULL THEN v
          WHEN pv IS NULL THEN nv
          WHEN nv IS NULL THEN pv
          ELSE pv + (nv - pv) * CAST(t - pt AS DOUBLE) /
            CAST(nt - pt AS DOUBLE) END AS v_interp
      FROM w ORDER BY day""")),

    // XML round-trip through Spark 4's built-in XML data source (S8's
    // remaining file format beside parquet/ORC/CSV/JSON/Avro-OCF/
    // binaryFile): supplier lands as <row> elements, reads back with an
    // explicit schema. Identity oracle, like the other format legs.
    ("q166_xml_roundtrip", (s: SparkSession, d: String) => {
      val base = s"/tmp/graft_xml/${new java.io.File(d).getName}"
      val src = t(s, d, "supplier")
      src.write.mode("overwrite").option("rowTag", "row").xml(base)
      s.read.schema(src.schema).option("rowTag", "row").xml(base)
        .orderBy("s_suppkey")
    }, Some("""
      SELECT * FROM supplier ORDER BY s_suppkey""")),

    // Cohort retention matrix (the product-analytics staple): users are
    // cohorted by first-active day, then each (cohort, day-offset k)
    // cell counts distinct cohort members active k days later. Two
    // aggregates + one join, all on the user key — the first-seen
    // relation is |users|-sized and joins back on the same key the
    // activity shuffle already used.
    ("q167_cohort_retention", (s: SparkSession, d: String) => {
      val ev = t(s, d, "events")
        .select(col("user_id"), to_date(col("ts")).as("day"))
      val first = ev.groupBy("user_id").agg(min(col("day")).as("cohort"))
      ev.join(first, "user_id")
        .withColumn("k", datediff(col("day"), col("cohort")))
        .filter(col("k") <= 13)
        .groupBy("cohort", "k")
        .agg(countDistinct(col("user_id")).as("n_active"))
        .orderBy("cohort", "k")
    }, Some("""
      WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
      f AS (SELECT user_id, MIN(day) AS cohort FROM ev GROUP BY 1)
      SELECT cohort, date_diff('day', cohort, day) AS k,
        COUNT(DISTINCT user_id) AS n_active
      FROM ev JOIN f USING (user_id)
      WHERE date_diff('day', cohort, day) <= 13
      GROUP BY 1, 2 ORDER BY 1, 2""")),

    // Parquet schema evolution: two batches land with DIFFERENT schemas
    // (the second adds o_custkey) under partition dirs, and ONE
    // mergeSchema read reconciles them — missing columns null-fill, the
    // partition column materializes from the path. The D6 "latest schema
    // wins, old rows still readable" contract at the file-table layer,
    // beside the Avro reader/writer resolution that covers it for OCF.
    ("q168_mergeschema_evolution", (s: SparkSession, d: String) => {
      val base = s"/tmp/graft_evo/${new java.io.File(d).getName}"
      val o = t(s, d, "orders")
      o.filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_totalprice"))
        .write.mode("overwrite").parquet(s"$base/b=1")
      o.filter(col("o_orderstatus") === "O")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_custkey"))
        .write.mode("overwrite").parquet(s"$base/b=2")
      s.read.option("mergeSchema", "true").parquet(base)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_custkey"),
          col("b").cast("int").as("b"))
        .orderBy("o_orderkey")
    }, Some("""
      SELECT o_orderkey, o_totalprice, NULL AS o_custkey, 1 AS b
      FROM orders WHERE o_orderstatus = 'F'
      UNION ALL
      SELECT o_orderkey, o_totalprice, o_custkey, 2 AS b
      FROM orders WHERE o_orderstatus = 'O'
      ORDER BY o_orderkey""")),

    // Merkle-style replica verification: both table versions (the copy
    // tampers o_custkey on ~1% of keys) fold to 64 per-bucket bit_xor
    // digests of per-row xxhash64s; comparing the two digest relations
    // pinpoints the buckets holding corruption WITHOUT ever co-shuffling
    // the rows. The oracle replays the row hash (seed-chained two-column
    // XXH64) and the xor fold, so the digests themselves hash-compare.
    ("q171_bucket_digest_diff", (s: SparkSession, d: String) => {
      val base = t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
      val copy = base.withColumn("o_custkey",
        when(pmod(col("o_orderkey"), lit(97)) === 13, col("o_custkey") + 1)
          .otherwise(col("o_custkey")))
      val db = Cdc.bucketDigests(base, "o_orderkey",
        Seq("o_orderkey", "o_custkey"), 64)
        .withColumnRenamed("digest", "d_base").withColumnRenamed("n_rows", "n_base")
      val dc = Cdc.bucketDigests(copy, "o_orderkey",
        Seq("o_orderkey", "o_custkey"), 64)
        .withColumnRenamed("digest", "d_copy").withColumnRenamed("n_rows", "n_copy")
      db.join(dc, "bucket")
        .select(col("bucket"), col("d_base"), col("d_copy"),
          (col("d_base") === col("d_copy") &&
            col("n_base") === col("n_copy")).as("is_match"), col("n_base"))
        .orderBy("bucket")
    }, Some {
      // Per-row seed-chained row digest via the linear per-step chain
      // (hashLongSubquery) — the four inline hashLong macros made this
      // the corpus's largest statement (1.08 MB) and its slowest
      // replayer (~5 s): each macro evaluates its argument ~1000x/row.
      import graft.llm.XxHashOracle
      def rowDigest(rel: String) = XxHashOracle.hashLongSubquery(
        XxHashOracle.hashLongSubquery(
          s"(SELECT o_orderkey % 64 AS bucket, o_orderkey, o_custkey" +
            s" FROM $rel)",
          Seq("bucket", "o_custkey"),
          "CAST(o_orderkey AS HUGEINT)", "CAST(42 AS HUGEINT)", "s1"),
        Seq("bucket"), "CAST(o_custkey AS HUGEINT)", "s1", "hu")
      s"""
      WITH base AS (SELECT o_orderkey, o_custkey FROM orders),
      copy AS (SELECT o_orderkey,
          CASE WHEN o_orderkey % 97 = 13 THEN o_custkey + 1
               ELSE o_custkey END AS o_custkey FROM orders),
      bd AS (SELECT bucket, bit_xor(hu) AS du, COUNT(*) AS n_base
             FROM ${rowDigest("base")} _b GROUP BY 1),
      cd AS (SELECT bucket, bit_xor(hu) AS du
             FROM ${rowDigest("copy")} _c GROUP BY 1)
      SELECT bd.bucket AS bucket,
        CAST(${XxHashOracle.signed("bd.du")} AS BIGINT) AS d_base,
        CAST(${XxHashOracle.signed("cd.du")} AS BIGINT) AS d_copy,
        bd.du = cd.du AS is_match, n_base
      FROM bd JOIN cd ON bd.bucket = cd.bucket
      ORDER BY bucket"""
    }),

    // Winsorization at exact global percentiles: o_totalprice clipped to
    // [p05, p95] (exact interpolated percentiles, broadcast back), then
    // per-status totals. Clipped-boundary mass is counted and multiplied
    // back in a pinned-order expression — CAST(inner AS DOUBLE) +
    // n_lo*p05 + n_hi*p95 — so no order-dependent double sum ever forms:
    // the in-range mass sums in exact decimal, the boundary mass is two
    // exact products.
    ("q172_winsorize_totals", (s: SparkSession, d: String) => {
      val o = t(s, d, "orders")
      val p = o.agg(expr("percentile(o_totalprice, 0.05)").as("p05"),
        expr("percentile(o_totalprice, 0.95)").as("p95"))
      o.crossJoin(broadcast(p))
        .groupBy(col("o_orderstatus"))
        .agg(sum(when(col("o_totalprice") >= col("p05") &&
            col("o_totalprice") <= col("p95"),
            Exact.dec(col("o_totalprice"), 14))).as("inner"),
          count(when(col("o_totalprice") < col("p05"), 1)).as("n_lo"),
          count(when(col("o_totalprice") > col("p95"), 1)).as("n_hi"),
          max(col("p05")).as("p05"), max(col("p95")).as("p95"))
        .select(col("o_orderstatus"), col("n_lo"), col("n_hi"),
          (col("inner").cast("double") + col("n_lo") * col("p05") +
            col("n_hi") * col("p95")).as("w_total"))
        .orderBy("o_orderstatus")
    }, Some("""
      WITH p AS (SELECT quantile_cont(o_totalprice, 0.05) AS p05,
          quantile_cont(o_totalprice, 0.95) AS p95 FROM orders),
      g AS (SELECT o_orderstatus,
          SUM(CASE WHEN o_totalprice >= p05 AND o_totalprice <= p95
              THEN CAST(o_totalprice AS DECIMAL(14,2)) END) AS inr,
          COUNT(*) FILTER (WHERE o_totalprice < p05) AS n_lo,
          COUNT(*) FILTER (WHERE o_totalprice > p95) AS n_hi,
          MAX(p05) AS p05, MAX(p95) AS p95
        FROM orders, p GROUP BY 1)
      SELECT o_orderstatus, n_lo, n_hi,
        CAST(inr AS DOUBLE) + n_lo * p05 + n_hi * p95 AS w_total
      FROM g ORDER BY o_orderstatus""")),

    // First-order Markov transition matrix over per-user event streams
    // (the user-journey profile): lead(event_type) within user by event
    // time, counted per (from, to). One window shuffle on the user key,
    // one aggregate on the transition pair.
    ("q173_markov_transitions", (s: SparkSession, d: String) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      t(s, d, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type"), col("next_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy("event_type", "next_type")
    }, Some("""
      WITH x AS (SELECT event_type,
          lead(event_type) OVER (PARTITION BY user_id
            ORDER BY ts, event_id) AS next_type
        FROM events)
      SELECT event_type, next_type, COUNT(*) AS n
      FROM x WHERE next_type IS NOT NULL
      GROUP BY 1, 2 ORDER BY 1, 2""")),

    // Robust outlier detection via MAD (median absolute deviation): per
    // status, median and MAD from exact interpolated percentiles (two
    // passes, each a broadcast join back over the scan), outliers =
    // |v - med| > mad * 3. Medians/MADs are single deterministic
    // interpolations, the deviation arithmetic is fixed-order IEEE —
    // everything hash-compares, unlike stddev-based fences whose
    // accumulation order varies.
    ("q174_mad_outliers", (s: SparkSession, d: String) => {
      val o = t(s, d, "orders")
      val med = o.groupBy("o_orderstatus")
        .agg(expr("percentile(o_totalprice, 0.5)").as("med"))
      val mad = o.join(broadcast(med), "o_orderstatus")
        .groupBy("o_orderstatus")
        .agg(expr("percentile(abs(o_totalprice - med), 0.5)").as("mad"),
          max(col("med")).as("med"))
      o.join(broadcast(mad), "o_orderstatus")
        .groupBy("o_orderstatus")
        .agg(max(col("med")).as("med"), max(col("mad")).as("mad"),
          count(when(abs(col("o_totalprice") - col("med")) >
            col("mad") * 3, 1)).as("n_outliers"),
          count(lit(1)).as("n"))
        .orderBy("o_orderstatus")
    }, Some("""
      WITH med AS (SELECT o_orderstatus,
          quantile_cont(o_totalprice, 0.5) AS med FROM orders GROUP BY 1),
      mad AS (SELECT o_orderstatus,
          quantile_cont(abs(o_totalprice - med), 0.5) AS mad,
          MAX(med) AS med
        FROM orders JOIN med USING (o_orderstatus) GROUP BY 1)
      SELECT o_orderstatus, MAX(med) AS med, MAX(mad) AS mad,
        COUNT(*) FILTER (WHERE abs(o_totalprice - med) > mad * 3)
          AS n_outliers,
        COUNT(*) AS n
      FROM orders JOIN mad USING (o_orderstatus)
      GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // Bucket-pruned keyed aggregate: a key-filtered read of the bucketed
    // table touches ONLY the buckets the keys hash to
    // (SelectedBucketsCount in the scan, plan-pinned), and the groupBy on
    // the bucket key runs with NO exchange — the co-located layout paying
    // off for selective reads and aggregation at once.
    ("q175_bucket_pruned_lookup", (s: SparkSession, d: String) => {
      Sinks.writeBucketed(t(s, d, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus"),
        "graft_bp_orders", "o_orderkey", 16)
      s.table("graft_bp_orders")
        .filter(col("o_orderkey").isin(10L, 2000L, 4321L))
        .groupBy("o_orderkey")
        .agg(count(lit(1)).as("n"), max(col("o_custkey")).as("max_cust"))
        .orderBy("o_orderkey")
    }, Some("""
      SELECT o_orderkey, COUNT(*) AS n, MAX(o_custkey) AS max_cust
      FROM orders WHERE o_orderkey IN (10, 2000, 4321)
      GROUP BY o_orderkey ORDER BY o_orderkey""")),

    // Dynamic partition pruning: the day-partitioned events table joined
    // to a FILTERED day dimension — Spark injects the dim's day set as a
    // runtime partition filter on the fact scan (dynamicpruningexpression,
    // plan-pinned), so only the two matching day directories are read.
    ("q176_dynamic_partition_prune", (s: SparkSession, d: String) => {
      val dir = s"/tmp/graft_dpp/${new java.io.File(d).getName}/events"
      Sinks.writeDayPartitioned(t(s, d, "events"), "ts", dir)
      // partition discovery types `day` as DATE; the dim side matches it
      // so the join key stays the raw partition attribute (DPP eligible),
      // and the string form is derived only after aggregation
      val dim = t(s, d, "events")
        .select(to_date(col("ts")).as("day")).distinct()
        .filter(col("day").isin("2024-01-02", "2024-01-05"))
      s.read.parquet(dir).join(dim, "day")
        .groupBy("day")
        .agg(count(lit(1)).as("n"),
          Exact.sumD(col("value"), 10).as("sum_value"))
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("n"), col("sum_value"))
        .orderBy("day")
    }, Some("""
      SELECT strftime(ts, '%Y-%m-%d') AS day, COUNT(*) AS n,
        CAST(SUM(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS sum_value
      FROM events
      WHERE strftime(ts, '%Y-%m-%d') IN ('2024-01-02', '2024-01-05')
      GROUP BY 1 ORDER BY 1""")),

    // SLIDING event-time windows (size 2d, slide 1d — each event lands in
    // two overlapping windows) through a REAL micro-batch streaming
    // execution into a memory sink, q81's tumbling companion. The oracle
    // replays the overlap: each row contributes to the windows starting
    // at trunc(ts) and trunc(ts) - 1 day.
    ("q178_stream_sliding_window", (s: SparkSession, d: String) => {
      val stream = Tables.stream(s, d, "events")
        .withWatermark("ts", "1 day")
        .groupBy(window(col("ts"), "2 days", "1 day"), col("event_type"))
        .agg(count(lit(1)).as("n"), Exact.sumD(col("value")).as("sum_value"))
        .select(date_format(col("window.start"), "yyyy-MM-dd").as("w_start"),
          col("event_type"), col("n"), col("sum_value"))
      Streams.drain(stream, "complete", sized(s, d))
        .orderBy("w_start", "event_type")
    }, Some("""
      WITH x AS (SELECT event_type, value,
          date_trunc('day', ts) - k * INTERVAL 1 DAY AS w_start
        FROM events, (SELECT unnest(range(2)) AS k))
      SELECT strftime(w_start, '%Y-%m-%d') AS w_start, event_type,
        COUNT(*) AS n,
        CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
      FROM x GROUP BY 1, 2 ORDER BY w_start, event_type""")),

    // Incremental materialized-view maintenance: the pre-1996 history is
    // pre-aggregated ONCE and persisted as the MV store (exact-decimal
    // partial sums — mergeable by construction); the 1996+ delta
    // aggregates alone and merges by key union + re-sum. The oracle
    // recomputes from scratch — merged partials must equal the flat
    // aggregate exactly, which is precisely why the store holds DECIMAL,
    // not double. At 100 TB only the delta and the |keys|-sized store
    // ever move.
    ("q179_incremental_rollup", (s: SparkSession, d: String) => {
      val store = s"/tmp/graft_mv/${new java.io.File(d).getName}"
      val o = t(s, d, "orders").select(col("o_orderstatus"),
        date_format(col("o_orderdate"), "yyyy-MM").as("ym"),
        Exact.dec(col("o_totalprice"), 14).as("tp"))
      o.filter(col("ym") < "1996-01")
        .groupBy("o_orderstatus", "ym")
        .agg(count(lit(1)).as("n"), sum(col("tp")).as("total"))
        .write.mode("overwrite").parquet(store)
      val delta = o.filter(col("ym") >= "1996-01")
        .groupBy("o_orderstatus", "ym")
        .agg(count(lit(1)).as("n"), sum(col("tp")).as("total"))
      s.read.parquet(store).unionByName(delta)
        .groupBy("o_orderstatus", "ym")
        .agg(sum(col("n")).as("n"), sum(col("total")).cast("double").as("total"))
        .orderBy("o_orderstatus", "ym")
    }, Some("""
      SELECT o_orderstatus, strftime(o_orderdate, '%Y-%m') AS ym,
        COUNT(*) AS n,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total
      FROM orders GROUP BY 1, 2 ORDER BY o_orderstatus, ym""")),

    // DSv2 RUNTIME filtering (SupportsRuntimeFiltering — dynamic
    // partition pruning pushed into the connector): the day-window table
    // joins a file-backed, filtered hour dimension; Spark executes the
    // dim first and hands its HourUTC values to the scan, which then
    // plans partitions ONLY for the matching days — at 100 TB, the
    // un-matched day fetches never leave the planner. Spec-pinned that
    // exactly two days are fetched; the oracle rebuilds the connector's
    // deterministic grid for the two hours.
    ("q182_daywindow_runtime_filter", (s: SparkSession, d: String) => {
      import s.implicits._
      val dimPath = s"/tmp/graft_rf/${new java.io.File(d).getName}/dim"
      Seq("2024-01-02T05:00", "2024-01-05T17:00", "zzz-no-match")
        .toDF("hour").write.mode("overwrite").parquet(dimPath)
      val dim = s.read.parquet(dimPath).filter(col("hour") < "9")
      s.read.format("graft.sources.v2.DayWindowSource")
        .option("from", "2024-01-01").option("to", "2024-01-07").load()
        .join(broadcast(dim), col("HourUTC") === col("hour"))
        .groupBy(col("HourUTC"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("MunicipalityNo")).as("n_muni"))
        .orderBy("HourUTC")
    }, Some("""
      WITH grid AS (
        SELECT d || 'T' || lpad(CAST(h AS VARCHAR), 2, '0') || ':00'
            AS HourUTC, m
        FROM (SELECT unnest(['2024-01-01', '2024-01-02', '2024-01-03',
                '2024-01-04', '2024-01-05', '2024-01-06', '2024-01-07'])
                AS d),
             (SELECT unnest(range(24)) AS h),
             (SELECT unnest(['101', '155', '630']) AS m),
             (SELECT unnest(['Erhverv', 'Privat']) AS b))
      SELECT HourUTC, COUNT(*) AS n, COUNT(DISTINCT m) AS n_muni
      FROM grid
      WHERE HourUTC IN ('2024-01-02T05:00', '2024-01-05T17:00')
      GROUP BY 1 ORDER BY HourUTC""")),

    // Stream-stream LEFT OUTER join through the gate (the seventh real
    // streaming execution): purchases left-join prior-hour views;
    // unmatched purchases null-extend only when the watermark closes
    // their window, so two far-future sentinel rows (one per side, a
    // user that can never match) force every real window closed before
    // the stream drains. The batch oracle is the plain left join.
    ("q183_stream_outer_join", (s: SparkSession, d: String) => {
      val raw = t(s, d, "events")
      val inDir = s"/tmp/graft_q183/${new java.io.File(d).getName}/in"
      val maxTs = raw.agg(max(unix_micros(col("ts")))).head().getLong(0)
      val far = maxTs + 30L * 24 * 3600 * 1000000L
      val sentinels = s.range(2).select(
        (col("id") + 10000000L).as("event_id"),
        timestamp_micros(lit(far) + col("id") * 864000000000L).as("ts"),
        lit(-1L).as("user_id"),
        when(col("id") === 0, "purchase").otherwise("view").as("event_type"),
        lit(0.0).as("value"), lit("{}").as("props"))
      raw.unionByName(sentinels).coalesce(2)
        .write.mode("overwrite").parquet(inDir)
      val stream = s.readStream.schema(raw.schema).parquet(inDir)
      val joined = Streams.purchaseViewLeftJoin(stream)
      Streams.drain(joined, "append", sized(s, d))
        .filter(col("user_id") >= 0)
        .select("user_id", "p_id", "v_id")
        .orderBy("user_id", "p_id", "v_id")
    }, Some("""
      SELECT p.user_id, p.event_id AS p_id, v.event_id AS v_id
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
        ON p.user_id = v.user_id
        AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL 1 HOUR
      ORDER BY p.user_id, p_id, v_id""")),

    // Null-skew-proof left join: every 10th order's customer FK is
    // nulled, then ops.Skew.leftJoinNullBypass routes those rows AROUND
    // the join (a null key never matches, but a plain left join would
    // shuffle them all into one hash partition — the classic null-skew
    // reducer). The oracle runs the plain left join; identical results
    // prove the bypass preserves null-match semantics.
    ("q185_null_bypass_join", (s: SparkSession, d: String) => {
      val o = t(s, d, "orders").select(col("o_orderkey"),
        when(pmod(col("o_orderkey"), lit(10)) === 0, lit(null))
          .otherwise(col("o_custkey")).as("fk"), col("o_orderstatus"))
      val c = t(s, d, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      Skew.leftJoinNullBypass(o, c, "fk", "c_custkey")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          count(col("c_mktsegment")).as("n_matched"),
          count(when(col("fk").isNull, 1)).as("n_null_fk"))
        .orderBy("o_orderstatus")
    }, Some("""
      WITH o AS (SELECT o_orderkey,
          CASE WHEN o_orderkey % 10 = 0 THEN NULL
               ELSE o_custkey END AS fk, o_orderstatus FROM orders)
      SELECT o_orderstatus, COUNT(*) AS n,
        COUNT(c_mktsegment) AS n_matched,
        COUNT(*) FILTER (WHERE fk IS NULL) AS n_null_fk
      FROM o LEFT JOIN customer ON fk = c_custkey
      GROUP BY 1 ORDER BY o_orderstatus""")),

    // Time-weighted average (TWAP) over irregular samples: each reading
    // holds until the next one, so its weight is the inter-arrival
    // duration in exact integer microseconds; the weighted mass
    // accumulates in DECIMAL (value x duration — exact), and ONE double
    // division at the end yields the average. The last reading per user
    // carries no duration, exactly as a TWAP window closes.
    ("q186_time_weighted_avg", (s: SparkSession, d: String) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      t(s, d, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
        .withColumn("dur",
          unix_micros(lead(col("ts"), 1).over(w)) - unix_micros(col("ts")))
        .filter(col("dur").isNotNull)
        .groupBy("user_id")
        .agg(sum(col("dur")).as("total_dur"),
          sum(Exact.dec(col("value"), 20) * col("dur")).as("wsum"))
        .select(col("user_id"), col("total_dur"),
          (col("wsum").cast("string").cast("double") /
            col("total_dur").cast("double")).as("twap"))
        .orderBy("user_id")
    }, Some("""
      WITH x AS (SELECT user_id,
          epoch_us(lead(ts) OVER (PARTITION BY user_id
            ORDER BY ts, event_id)) - epoch_us(ts) AS dur,
          value
        FROM events),
      g AS (SELECT user_id, SUM(dur) AS total_dur,
          SUM(CAST(value AS DECIMAL(20,2)) * dur) AS wsum
        FROM x WHERE dur IS NOT NULL GROUP BY 1)
      SELECT user_id, CAST(total_dur AS BIGINT) AS total_dur,
        CAST(CAST(wsum AS VARCHAR) AS DOUBLE) /
          CAST(total_dur AS DOUBLE) AS twap
      FROM g ORDER BY user_id""")),

    // Targeted key deletion (right-to-be-forgotten) on the hash-bucketed
    // state layout: per-user aggregates land via the K5 upsert, every
    // user_id ≡ 3 (mod 7) is erased by rewriting ONLY the buckets those
    // keys hash to (staged two-rename swap, crash-recoverable), and the
    // read-back must equal the oracle's aggregate-minus-doomed — proving
    // untouched buckets carried their state through unmodified.
    ("q187_targeted_delete", (s: SparkSession, d: String) => {
      val dir = s"/tmp/graft_del/${new java.io.File(d).getName}/state"
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      // r13 OPT: the per-user aggregate feeds BOTH the upsert batch and
      // the doomed-key filter — without the pin the events scan+aggregate
      // runs twice (guide §2.4 repeated-subtree discipline).
      val users = materialize(t(s, d, "events").groupBy("user_id")
        .agg(count(lit(1)).as("n"),
          Exact.sum(Exact.dec(col("value"), 12)).as("sv"))).df
      // 8 buckets, not 16: the doomed keys (user_id % 7 = 3) land in
      // every bucket regardless, so a wider modulus only doubles the
      // staged-swap filesystem traffic this query pays twice (upsert +
      // delete) — the O(touched) contract is exercised identically.
      graft.streaming.Streams.upsertBatch(dir, Seq("user_id"), 8)(users, 0L)
      val doomed = users.filter(pmod(col("user_id"), lit(7)) === 3)
        .select("user_id")
      graft.streaming.Streams.deleteKeys(dir, Seq("user_id"), doomed,
        batchId = 1L)
      release(users) // both consumers wrote; the result reads the files
      s.read.parquet(dir)
        .select(col("user_id"), col("n"), col("sv").cast("double").as("sv"))
        .orderBy("user_id")
    }, Some("""
      SELECT user_id, COUNT(*) AS n,
        CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sv
      FROM events WHERE user_id % 7 <> 3
      GROUP BY 1 ORDER BY user_id""")),

    // Per-group approx_percentile under an exact RANK gate (q147's
    // discipline, grouped): the sketch's median estimate must sit within
    // ±5% of the true rank inside its own group — the check runs INSIDE
    // the query (one broadcast join back over the scan), so a sketch
    // drifting out of its guarantee flips the emitted boolean and fails
    // the hash compare. The estimate itself is never emitted (sketch
    // merge order is partition-dependent); the invariant is.
    ("q188_approx_group_bounds", (s: SparkSession, d: String) => {
      val li = t(s, d, "lineitem")
      val apx = li.groupBy("l_returnflag")
        .agg(expr("approx_percentile(l_quantity, 0.5, 1000)").as("apx"),
          count(lit(1)).as("n"))
      li.join(broadcast(apx), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(max(col("n")).as("n"),
          count(when(col("l_quantity") <= col("apx"), 1)).as("n_le"))
        .select(col("l_returnflag"), col("n"),
          (col("n_le") * 100 >= col("n") * 45 &&
            col("n_le") * 100 <= col("n") * 55).as("approx_ok"))
        .orderBy("l_returnflag")
    }, Some("""
      SELECT l_returnflag, COUNT(*) AS n, true AS approx_ok
      FROM lineitem GROUP BY 1 ORDER BY l_returnflag""")),

    // Range-partitioned sorted write — the 1-D complement to q151's
    // z-order and what a 100 TB table layout actually ships: equi-depth
    // file ranges from EXACT percentile boundaries (deterministic, unlike
    // repartitionByRange's sampled partitioner — Layout.rangeFileId),
    // rows landed sorted within each file, plus the per-file min/max
    // MANIFEST that makes scans prunable. Three invariants are proven
    // IN-QUERY: each landed file is physically sorted (read-back row
    // order), file ranges are pairwise disjoint, and a manifest-guided
    // pruned read (only file_id=0's directory listed) returns exactly the
    // predicate's rows. The oracle replays boundary computation, file
    // assignment, and the manifest; the physical checks replay as `true`.
    ("q191_range_sorted_write", (s: SparkSession, d: String) => {
      val dir = s"/tmp/graft_layout/${new java.io.File(d).getName}/range"
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      val nFiles = 8
      val qsSql = (1 until nFiles).map(i => i.toDouble / nFiles)
        .mkString("array(", ", ", ")")
      val li = t(s, d, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_linenumber").as("ln"),
          col("l_partkey").cast("long").as("pk"))
      val bounds = li.agg(expr(s"percentile(pk, $qsSql)").as("bs"))
      li.crossJoin(broadcast(bounds))
        .withColumn("file_id", Layout.rangeFileId(col("pk"), col("bs")))
        .drop("bs")
        // Sort by (file_id, pk): the dynamic-partition writer requires
        // rows grouped by partition value and injects its own (unstable)
        // sort when the incoming order doesn't provide that — leading
        // with file_id satisfies the requirement so the pk order lands.
        .repartition(col("file_id")).sortWithinPartitions("file_id", "pk")
        .write.mode("overwrite").partitionBy("file_id").parquet(dir)
      val back = s.read.parquet(dir)
        .withColumn("rid", monotonically_increasing_id())
      val wLag = Window.partitionBy("file_id").orderBy("rid")
      val manifest = back
        .withColumn("in_order",
          coalesce(lag(col("pk"), 1).over(wLag) <= col("pk"), lit(true)))
        .groupBy("file_id")
        .agg(count(lit(1)).as("n_rows"),
          min("pk").as("pk_min"), max("pk").as("pk_max"),
          expr("bool_and(in_order)").as("file_sorted"))
      val pruned = s.read.parquet(dir).filter(col("file_id") === 0)
        .agg(count(lit(1)).as("n_pruned"))
      val direct = li.crossJoin(broadcast(bounds))
        .filter(col("pk") <= element_at(col("bs"), 1))
        .agg(count(lit(1)).as("n_direct"))
      manifest.crossJoin(broadcast(pruned)).crossJoin(broadcast(direct))
        .withColumn("no_overlap",
          coalesce(lag(col("pk_max"), 1).over(Window.orderBy("file_id"))
            <= col("pk_min"), lit(true)))
        .select(col("file_id"), col("n_rows"), col("pk_min"), col("pk_max"),
          col("file_sorted"), col("no_overlap"),
          (col("n_pruned") === col("n_direct")).as("prune_ok"))
        .orderBy("file_id")
    }, Some(s"""
      WITH b AS (SELECT quantile_cont(l_partkey,
          [${(1 until 8).map(i => i.toDouble / 8).mkString(", ")}]) AS bs
        FROM lineitem),
      a AS (SELECT CAST(l_partkey AS BIGINT) AS pk,
          len(list_filter(b.bs, x -> l_partkey > x)) AS file_id
        FROM lineitem, b)
      SELECT CAST(file_id AS INT) AS file_id, COUNT(*) AS n_rows,
        MIN(pk) AS pk_min, MAX(pk) AS pk_max,
        true AS file_sorted, true AS no_overlap, true AS prune_ok
      FROM a GROUP BY 1 ORDER BY file_id""")),

    // Streaming state-store READ PATH (Spark's state data source): q96's
    // global-dedup query runs against an explicit checkpoint, then the
    // checkpoint's state store itself is read back with
    // `spark.read.format("statestore")` and the DECODED KEYS are gated
    // against the batch-derived distinct set. This is what state audits
    // and right-to-be-forgotten verification need: the streaming state
    // is no longer write-only. The state read is partition-parallel
    // (one task per state partition) — no driver-side decode.
    ("q193_statestore_dedup_read", (s: SparkSession, d: String) => {
      val ck = s"/tmp/graft_ss/${new java.io.File(d).getName}/dedup_ck"
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ck))
      val stream = Tables.stream(s, d, "events")
        .select("user_id", "event_type")
        .dropDuplicates("user_id", "event_type")
      // The statestore read-back discovers the state partition count from
      // the checkpoint, so the audit scan runs at the sized count too.
      Streams.drainCheckpoint(stream, "append", sized(s, d), ck)
      s.read.format("statestore").load(ck)
        .select(col("key.user_id").as("user_id"),
          col("key.event_type").as("event_type"))
        .orderBy("user_id", "event_type")
    }, Some("""
      SELECT DISTINCT user_id, event_type FROM events
      ORDER BY user_id, event_type""")),

    // State-store read of a streaming AGGREGATION checkpoint: the
    // per-user running count lives in the store's VALUE rows; reading
    // them back must reproduce the batch aggregate exactly — the
    // materialized-view-maintenance audit (does the incremental state
    // equal the from-scratch computation?) as a single oracle-gated
    // relation, keys and values both decoded.
    ("q194_statestore_agg_read", (s: SparkSession, d: String) => {
      val ck = s"/tmp/graft_ss/${new java.io.File(d).getName}/agg_ck"
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ck))
      val stream = Tables.stream(s, d, "events").groupBy("user_id").count()
      Streams.drainCheckpoint(stream, "update", sized(s, d), ck)
      s.read.format("statestore").load(ck)
        .select(col("key.user_id").as("user_id"),
          col("value.count").as("n"))
        .orderBy("user_id")
    }, Some("""
      SELECT user_id, COUNT(*) AS n FROM events
      GROUP BY 1 ORDER BY user_id""")),

    // Real SQL `DELETE FROM` against the group-based copy-on-write
    // catalog (sources.v2.rowlevel): q187's right-to-be-forgotten
    // contract, but typed by a user as plain DML. Spark plans the
    // row-level rewrite — a runtime group-filter subquery finds the
    // parquet files holding doomed rows, ONLY those files are read and
    // swapped (RowLevelSpec pins untouched-file byte-identity) — and the
    // re-read table must equal the oracle's aggregate-minus-doomed.
    ("q196_sql_delete_rowlevel", (s: SparkSession, d: String) => {
      val tbl = rowLevelTable(s, d, "del")
      t(s, d, "events").groupBy("user_id")
        .agg(count(lit(1)).as("n"), Exact.sumD(col("value")).as("sv"))
        .createOrReplaceTempView("q196_src")
      s.sql(s"CREATE TABLE $tbl (user_id BIGINT, n BIGINT, sv DOUBLE)")
      s.sql(s"INSERT INTO $tbl SELECT user_id, n, sv FROM q196_src")
      s.sql(s"DELETE FROM $tbl WHERE user_id % 7 = 3")
      s.table(tbl).orderBy("user_id")
    }, Some("""
      SELECT user_id, COUNT(*) AS n,
        CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sv
      FROM events WHERE user_id % 7 <> 3
      GROUP BY 1 ORDER BY user_id""")),

    // Real SQL `MERGE INTO` on the same catalog — the reference's
    // idempotent re-ingest (D2/D3) as storage-side DML: day-1 state
    // merged with the day-2 delta, matched keys accumulate, new keys
    // insert, and stale keys (absent from the delta, n >= 8) age out via
    // NOT MATCHED BY SOURCE DELETE. The double additions are sums of two
    // exact-decimal-derived doubles in a pinned order, so the merged
    // table hash-compares against the oracle's full-outer replay.
    ("q197_sql_merge_upsert", (s: SparkSession, d: String) => {
      val tbl = rowLevelTable(s, d, "mrg")
      val o = t(s, d, "orders")
      o.filter(col("o_orderdate") < "1997-01-01")
        .groupBy(col("o_custkey").as("k"))
        .agg(count(lit(1)).as("n"), Exact.sumD(col("o_totalprice")).as("total"))
        .createOrReplaceTempView("q197_t0")
      o.filter(col("o_orderdate") >= "1997-01-01")
        .groupBy(col("o_custkey").as("k"))
        .agg(count(lit(1)).as("n"), Exact.sumD(col("o_totalprice")).as("total"))
        .createOrReplaceTempView("q197_delta")
      s.sql(s"CREATE TABLE $tbl (k BIGINT, n BIGINT, total DOUBLE)")
      s.sql(s"INSERT INTO $tbl SELECT k, n, total FROM q197_t0")
      s.sql(s"""
        MERGE INTO $tbl t USING q197_delta s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET n = t.n + s.n, total = t.total + s.total
        WHEN NOT MATCHED THEN INSERT (k, n, total) VALUES (s.k, s.n, s.total)
        WHEN NOT MATCHED BY SOURCE AND t.n >= 8 THEN DELETE""")
      s.table(tbl).orderBy("k")
    }, Some("""
      WITH t0 AS (SELECT o_custkey AS k, COUNT(*) AS n,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        FROM orders WHERE o_orderdate < DATE '1997-01-01' GROUP BY 1),
      delta AS (SELECT o_custkey AS k, COUNT(*) AS n,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        FROM orders WHERE o_orderdate >= DATE '1997-01-01' GROUP BY 1)
      SELECT COALESCE(t.k, s.k) AS k,
        CASE WHEN t.k IS NOT NULL AND s.k IS NOT NULL THEN t.n + s.n
             WHEN s.k IS NOT NULL THEN s.n ELSE t.n END AS n,
        CASE WHEN t.k IS NOT NULL AND s.k IS NOT NULL THEN t.total + s.total
             WHEN s.k IS NOT NULL THEN s.total ELSE t.total END AS total
      FROM t0 t FULL OUTER JOIN delta s ON t.k = s.k
      WHERE NOT (s.k IS NULL AND t.n >= 8)
      ORDER BY k""")),

    // Real SQL `UPDATE` on the copy-on-write catalog: a governed-table
    // correction (re-pricing one stratum) typed as DML; only groups
    // holding matched rows rewrite. The updated value is one double
    // multiply of an exact-decimal-derived double — deterministic.
    ("q198_sql_update_rowlevel", (s: SparkSession, d: String) => {
      val tbl = rowLevelTable(s, d, "upd")
      t(s, d, "events").groupBy("user_id")
        .agg(count(lit(1)).as("n"), Exact.sumD(col("value")).as("sv"))
        .createOrReplaceTempView("q198_src")
      s.sql(s"CREATE TABLE $tbl (user_id BIGINT, n BIGINT, sv DOUBLE)")
      s.sql(s"INSERT INTO $tbl SELECT user_id, n, sv FROM q198_src")
      s.sql(s"UPDATE $tbl SET sv = sv * 2.0 WHERE user_id % 10 = 0")
      s.table(tbl).orderBy("user_id")
    }, Some("""
      WITH g AS (SELECT user_id, COUNT(*) AS n,
          CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sv
        FROM events GROUP BY 1)
      SELECT user_id, n,
        CASE WHEN user_id % 10 = 0 THEN sv * 2.0 ELSE sv END AS sv
      FROM g ORDER BY user_id""")),

    // Snapshot time travel on the copy-on-write catalog: every commit
    // (insert, overwrite, DML rewrite) is a manifest-versioned snapshot
    // whose data files survive until vacuum, so `VERSION AS OF` reads
    // the pre-DML table — the audit/debug/rollback surface a governed
    // 100 TB table needs. One query emits the pre-delete snapshot AND
    // the post-delete current state; the oracle derives both from the
    // base relation.
    ("q199_sql_time_travel", (s: SparkSession, d: String) => {
      val tbl = rowLevelTable(s, d, "tt")
      t(s, d, "events").groupBy("user_id")
        .agg(count(lit(1)).as("n"), Exact.sumD(col("value")).as("sv"))
        .createOrReplaceTempView("q199_src")
      s.sql(s"CREATE TABLE $tbl (user_id BIGINT, n BIGINT, sv DOUBLE)")
      s.sql(s"INSERT INTO $tbl SELECT user_id, n, sv FROM q199_src") // v1
      s.sql(s"DELETE FROM $tbl WHERE user_id % 7 = 3")               // v2
      s.sql(s"""
        SELECT 'v1' AS snap, user_id, n, sv FROM $tbl VERSION AS OF 1
        UNION ALL
        SELECT 'current' AS snap, user_id, n, sv FROM $tbl""")
        .orderBy("snap", "user_id")
    }, Some("""
      WITH g AS (SELECT user_id, COUNT(*) AS n,
          CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sv
        FROM events GROUP BY 1)
      SELECT 'v1' AS snap, user_id, n, sv FROM g
      UNION ALL
      SELECT 'current' AS snap, user_id, n, sv FROM g WHERE user_id % 7 <> 3
      ORDER BY snap, user_id""")),

    // Streaming CDC-apply: a file stream drains micro-batch by
    // micro-batch (maxFilesPerTrigger=1) into the governed table via a
    // per-batch MERGE INTO — the K5 keyed-upsert contract as storage-side
    // SQL, each batch one copy-on-write snapshot. Accumulators are
    // integer (count + exact cents), so the final state is independent
    // of batch arrival order and hash-compares against the flat batch
    // aggregate. This is the standard "stream into a lakehouse table"
    // landing pattern (foreachBatch + MERGE).
    ("q200_stream_merge_apply", (s: SparkSession, d: String) => {
      val tbl = rowLevelTable(s, d, "cdc")
      val sf = new java.io.File(d).getName
      val src = s"/tmp/graft_cdc_src/$sf"
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(src))
      val ev = t(s, d, "events").select(col("user_id"),
        (Exact.dec(col("value"), 12) * 100).cast("long").as("cents"),
        pmod(xxhash64(col("event_id")), lit(2)).as("half"))
      ev.filter(col("half") === 0).drop("half").coalesce(1)
        .write.parquet(s"$src/h0")
      ev.filter(col("half") === 1).drop("half").coalesce(1)
        .write.parquet(s"$src/h1")
      s.sql(s"CREATE TABLE $tbl (user_id BIGINT, n BIGINT, cents BIGINT)")
      val q = s.readStream.schema("user_id LONG, cents LONG")
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$src/*")
        .writeStream.foreachBatch { (b: DataFrame, id: Long) =>
          b.groupBy("user_id")
            .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
            .createOrReplaceTempView("q200_batch")
          b.sparkSession.sql(s"""
            MERGE INTO $tbl t USING q200_batch s ON t.user_id = s.user_id
            WHEN MATCHED THEN UPDATE
              SET n = t.n + s.n, cents = t.cents + s.cents
            WHEN NOT MATCHED THEN INSERT (user_id, n, cents)
              VALUES (s.user_id, s.n, s.cents)""")
          (): Unit
        }
      // No state store here: the sized width is for each half-table
      // micro-batch's groupBy and row-level MERGE join.
      Streams.withSizedState(s, s"$d/events.parquet") {
        val qq = q.start()
        try qq.processAllAvailable() finally qq.stop()
      }
      s.table(tbl).orderBy("user_id")
    }, Some("""
      SELECT user_id, COUNT(*) AS n,
        CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT))
          AS BIGINT) AS cents
      FROM events GROUP BY 1 ORDER BY user_id""")),

    // Snapshot history audit (the DESCRIBE HISTORY surface): the
    // catalog's per-version log with row counts, over a lifecycle of
    // create (v0 empty) → insert (v1) → DELETE rewrite (v2) →
    // compaction via INSERT OVERWRITE self-select (v3, contents
    // unchanged). File counts are partitioning-dependent and excluded;
    // the version ladder and row counts replay from the base relation.
    ("q201_table_history", (s: SparkSession, d: String) => {
      val tbl = rowLevelTable(s, d, "hist")
      t(s, d, "events").groupBy("user_id")
        .agg(count(lit(1)).as("n"), Exact.sumD(col("value")).as("sv"))
        .createOrReplaceTempView("q201_src")
      s.sql(s"CREATE TABLE $tbl (user_id BIGINT, n BIGINT, sv DOUBLE)")
      s.sql(s"INSERT INTO $tbl SELECT user_id, n, sv FROM q201_src")
      s.sql(s"DELETE FROM $tbl WHERE user_id % 7 = 3")
      s.sql(s"INSERT OVERWRITE $tbl SELECT /*+ COALESCE(1) */ * FROM $tbl")
      graft.sources.v2.rowlevel.GraftMaintenance
        .history(s, "/tmp/graft_rl_wh", Seq("db"), tbl.split("\\.").last)
        .select(col("version"), col("n_rows"))
        .orderBy("version")
    }, Some("""
      WITH g AS (SELECT user_id FROM events GROUP BY user_id),
      k AS (SELECT COUNT(*) AS full_n,
        COUNT(*) FILTER (WHERE user_id % 7 <> 3) AS kept_n FROM g)
      SELECT 0 AS version, 0 AS n_rows FROM k
      UNION ALL SELECT 1, full_n FROM k
      UNION ALL SELECT 2, kept_n FROM k
      UNION ALL SELECT 3, kept_n FROM k
      ORDER BY version""")),

    // Merge-on-read DML (TBLPROPERTIES mode=mor): the same DELETE +
    // UPDATE contract as q196/q198, but no data file is ever rewritten —
    // statements append POSITION-DELETE files (and new data files for
    // updated rows) and readers apply them per file. The
    // write-amplification/read-amplification trade against copy-on-write
    // for point DML on 100 TB tables; RowLevelSpec pins data-file
    // byte-identity and compaction folding the deletes back down.
    ("q202_sql_mor_dml", (s: SparkSession, d: String) => {
      val tbl = rowLevelTable(s, d, "mor")
      t(s, d, "events").groupBy("user_id")
        .agg(count(lit(1)).as("n"), Exact.sumD(col("value")).as("sv"))
        .createOrReplaceTempView("q202_src")
      s.sql(s"CREATE TABLE $tbl (user_id BIGINT, n BIGINT, sv DOUBLE) " +
        "TBLPROPERTIES ('mode'='mor')")
      s.sql(s"INSERT INTO $tbl SELECT user_id, n, sv FROM q202_src")
      s.sql(s"DELETE FROM $tbl WHERE user_id % 7 = 3")
      s.sql(s"UPDATE $tbl SET sv = sv * 2.0 WHERE user_id % 10 = 0")
      s.table(tbl).orderBy("user_id")
    }, Some("""
      WITH g AS (SELECT user_id, COUNT(*) AS n,
          CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sv
        FROM events WHERE user_id % 7 <> 3 GROUP BY 1)
      SELECT user_id, n,
        CASE WHEN user_id % 10 = 0 THEN sv * 2.0 ELSE sv END AS sv
      FROM g ORDER BY user_id""")),

    // Storage-partitioned join (SPJ): both sides are pre-laid-out on the
    // join key and the DSv2 scans report KeyGroupedPartitioning with
    // per-partition keys, so the join and the per-key aggregate plan with
    // ZERO shuffle (PlanQualitySpec pins the exchange-free plan). At
    // 100 TB this is the bucketed-table contract: a fact-fact join on a
    // co-partitioned key moves no rows.
    ("q203_spj_join", (s: SparkSession, d: String) => {
      import graft.sources.v2.Spj
      val sf = new java.io.File(d).getName.replace(".", "_")
      val base = s"/tmp/graft_spj/$sf"
      Spj.writeKeyed(t(s, d, "customer")
        .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal")),
        s"$base/cust", "c_nationkey")
      Spj.writeKeyed(t(s, d, "supplier")
        .select(col("s_suppkey"), col("s_nationkey"), col("s_acctbal")),
        s"$base/supp", "s_nationkey")
      Spj.spjJoin(s, base).orderBy("nationkey")
    }, Some("""
      SELECT c_nationkey AS nationkey, COUNT(*) AS n_pairs,
        CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))
               + CAST(s_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS bal
      FROM customer JOIN supplier ON c_nationkey = s_nationkey
      GROUP BY 1 ORDER BY nationkey""")),

    // Regression family (regr_slope / regr_intercept / regr_r2) of
    // discount on quantity, computed from EXACT integer moment sums —
    // both measures are 2-decimal values, so scaling by 100 makes every
    // row an exact BIGINT and n, Σx, Σy, Σx², Σxy, Σy² aggregate in pure
    // int64 (order-independent across 1000 executors; the ×100 scaling
    // cancels in slope and r2). int64→double is correctly rounded in
    // every IEEE engine — unlike wide-DECIMAL→double, which DuckDB
    // computes as two roundings (int128 / 10^scale) and the JVM as one —
    // so the closed forms then evaluate identical expression trees over
    // bit-identical inputs and the floats hash-match. The built-in
    // regr_* aggregates are double accumulators whose partial-merge
    // order varies run to run; the moment-sum decomposition is both the
    // deterministic and the map-side-combinable (one pass, six partial
    // sums) formulation. Range: sums fit int64 to ~10^12 rows.
    ("q205_regression_stats", (s: SparkSession, d: String) => {
      val x = (qty * lit(100)).cast("long")
      val y = (disc * lit(100)).cast("long")
      val g = t(s, d, "lineitem").groupBy("l_returnflag").agg(
        count(lit(1)).as("n"),
        sum(x).as("sx"), sum(y).as("sy"),
        sum(x * x).as("sxx"), sum(x * y).as("sxy"), sum(y * y).as("syy"))
      val nD = col("n").cast("double")
      val sxD = col("sx").cast("double")
      val syD = col("sy").cast("double")
      val num = nD * col("sxy").cast("double") - sxD * syD
      val den = nD * col("sxx").cast("double") - sxD * sxD
      val deny = nD * col("syy").cast("double") - syD * syD
      g.select(col("l_returnflag"), col("n"),
          (num / den).as("slope"),
          ((syD - num / den * sxD) / nD).as("intercept"),
          (num * num / (den * deny)).as("r2"))
        .orderBy("l_returnflag")
    }, Some(s"""
      WITH r AS (SELECT l_returnflag,
          CAST($oQty * 100 AS BIGINT) AS x,
          CAST($oDisc * 100 AS BIGINT) AS y
        FROM lineitem),
      g AS (SELECT l_returnflag, COUNT(*) AS n,
          CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
          CAST(SUM(x * x) AS BIGINT) AS sxx,
          CAST(SUM(x * y) AS BIGINT) AS sxy,
          CAST(SUM(y * y) AS BIGINT) AS syy
        FROM r GROUP BY 1)
      SELECT l_returnflag, n,
        (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
          / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope,
        (CAST(sy AS DOUBLE)
           - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
             * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS intercept,
        ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
          / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
           * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS r2
      FROM g ORDER BY l_returnflag""")),

    // NATIVE recursive CTE (Spark 4's WITH RECURSIVE / UnionLoop): a
    // hierarchical ancestor rollup — each supplier's ancestor chain via
    // integer halving (a binary hierarchy derived from the key), then
    // descendant count / key-sum / exact-cents balance per ancestor.
    // The SAME SQL text runs on both engines (q104 dateSpine
    // convention): FLOOR(a/2) over doubles is exact to 2^53 and
    // portable, SUM casts pin BIGINT on both sides. Spark executes the
    // recursion as iterated distributed steps (UnionLoopExec), each
    // round frontier-sized — depth is log2(max key), so 100 TB of keys
    // is ~40 rounds of per-level joins, never a driver loop.
    ("q208_recursive_rollup", (s: SparkSession, d: String) => {
      t(s, d, "supplier").createOrReplaceTempView("supplier")
      s.sql(recursiveRollupSql)
    }, Some(recursiveRollupSql)),

    // Skyline / Pareto frontier (Börzsönyi et al. 2001): parts that are
    // Pareto-optimal under (minimize retail price, maximize size). The
    // engine runs the two-level sorted sweep in ops.Skyline — one range
    // shuffle, partition-local running-max windows, a one-row-per-
    // partition broadcast carry, never a global single-partition window
    // and never a pairwise product; the oracle replays the quadratic
    // NOT EXISTS dominance definition. Exact integer dimensions (price
    // in cents), so dominance ties are decided exactly.
    ("q209_skyline_pareto", (s: SparkSession, d: String) => {
      val p = t(s, d, "part").select(col("p_partkey"),
        (graft.ops.Exact.dec(col("p_retailprice")) * lit(100))
          .cast("long").as("price_cents"),
        col("p_size"))
      graft.ops.Skyline.skyline2D(p, "price_cents", "p_size")
        .orderBy("price_cents", "p_partkey")
    }, Some("""
      WITH p AS (SELECT p_partkey,
          CAST(CAST(p_retailprice AS DECIMAL(12,2)) * 100 AS BIGINT)
            AS price_cents, p_size
        FROM part)
      SELECT b.p_partkey, b.price_cents, b.p_size FROM p b
      WHERE NOT EXISTS (SELECT 1 FROM p a
        WHERE (a.price_cents < b.price_cents AND a.p_size >= b.p_size)
           OR (a.price_cents <= b.price_cents AND a.p_size > b.p_size))
      ORDER BY b.price_cents, b.p_partkey""")),

    // dropDuplicatesWithinWatermark (Spark 3.5+ bounded-state dedup):
    // unlike global dropDuplicates (q96) whose state grows forever, state
    // here expires once the watermark passes event-time + delay — the
    // only dedup that survives an unbounded 100 TB stream. Four staged
    // micro-batches (mtime-ordered, one file each) prove both sides of
    // the contract through the oracle: duplicates inside the delay are
    // dropped (b0 in-batch dupes), and a key recurring AFTER its state
    // expired re-emits (b3 repeats b0 keys two days later ⇒ n_emitted=2).
    // TWO watermark-advancing batches sit in between because eviction
    // uses the watermark current DURING a batch, which itself lags the
    // data one batch (verified empirically): b1 moves event time to
    // day 3, so b2 runs with wm = day3-1h > b0's expiry and evicts b0's
    // state at its end — before b3's re-occurrences arrive. All rows in
    // a staged batch share one event time, so the watermark ladder — and
    // therefore the emitted multiset — is deterministic.
    ("q210_stream_dedup_within_watermark", (s: SparkSession, d: String) => {
      val sf = new java.io.File(d).getName
      val base = s"/tmp/graft_wmdedup/$sf"
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
      val keys = t(s, d, "events").select(col("user_id"), col("event_type"))
      def stage(sub: String, pred: Column, ts: String, mtime: Long): Unit = {
        val p = s"$base/in/$sub"
        keys.filter(pred).withColumn("ts", lit(ts).cast("timestamp"))
          .coalesce(1).write.parquet(p)
        new java.io.File(p).listFiles().foreach(_.setLastModified(mtime))
      }
      stage("b0", col("user_id") % 10 < 5, "2024-01-01 00:00:00", 1000000L)
      stage("b1", col("user_id") % 10 >= 5 && col("user_id") % 10 < 8,
        "2024-01-03 00:00:00", 2000000L)
      stage("b2", col("user_id") % 10 >= 8, "2024-01-03 00:30:00", 3000000L)
      stage("b3", col("user_id") % 10 < 3, "2024-01-03 01:00:00", 4000000L)
      val stream = s.readStream
        .schema("user_id LONG, event_type STRING, ts TIMESTAMP")
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$base/in/*")
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("user_id", "event_type")
        .select("user_id", "event_type")
      Streams.drain(stream, "append", sized(s, d))
        .groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("n_emitted"))
        .orderBy("user_id", "event_type")
    }, Some("""
      WITH k AS (SELECT DISTINCT user_id, event_type FROM events)
      SELECT user_id, event_type,
        CAST(CASE WHEN user_id % 10 < 3 THEN 2 ELSE 1 END AS BIGINT)
          AS n_emitted
      FROM k ORDER BY user_id, event_type""")),

    // Rendezvous (highest-random-weight) shard routing — Thaler &
    // Ravishankar 1996, the stateless consistent-placement scheme behind
    // cache/shard routers: every key goes to argmax_node xxhash64(node,
    // key). Computed as a shuffle-free map-only projection (struct-max
    // over a per-row hash array — the assignCells discipline); the query
    // routes every customer under 8 nodes AND under 9, and the
    // (before, after) transition matrix PROVES the minimal-movement
    // property through the oracle: every off-diagonal cell lands in
    // node_after = 8 (keys only ever move TO the new node, ~1/9 of
    // them). The oracle replays the seed-chained xxhash64 bit-for-bit
    // and converts to signed before the argmax so both engines compare
    // identically. The argmax is a greatest() + first-match-from-the-top
    // when-chain over UNROLLED hash columns, NOT array_max over a
    // transform() of structs — higher-order functions and struct
    // orderings run interpreted (no codegen), measured 25× slower for
    // this projection; the unrolled form stays inside WholeStageCodegen.
    ("q212_rendezvous_routing", (s: SparkSession, d: String) => {
      val keys = t(s, d, "customer").select(col("c_custkey").as("k"))
      def assign(n: Int): Column = {
        val hs = (0 until n).map(i => xxhash64(lit(i), col("k")))
        val best = greatest(hs: _*)
        // ties: the HIGHEST node with the max hash wins (matches the
        // oracle's ORDER BY h DESC, node DESC)
        ((n - 2) to 0 by -1).foldLeft(when(hs(n - 1) === best, lit(n - 1))) {
          (acc, i) => acc.when(hs(i) === best, lit(i))
        }
      }
      keys.withColumn("node_before", assign(8))
        .withColumn("node_after", assign(9))
        .groupBy("node_before", "node_after")
        .agg(count(lit(1)).as("n_keys"), sum(col("k")).as("sum_keys"))
        .orderBy("node_before", "node_after")
    }, Some {
      import graft.llm.XxHashOracle
      val nodes = (0 to 8)
        .map(n => s"($n, CAST('${XxHashOracle.familySeed(n)}' AS HUGEINT))")
        .mkString(", ")
      s"""
      WITH keys AS (SELECT c_custkey AS k FROM customer),
      nodes(node, seed) AS (VALUES $nodes),
      h0 AS (SELECT k, node, hu FROM ${XxHashOracle.hashLongSubquery(
          "(SELECT k, node, seed FROM keys CROSS JOIN nodes)",
          Seq("k", "node"), "CAST(k AS HUGEINT)", "seed", "hu")} _h0),
      hs AS (SELECT k, node,
          CAST(CASE WHEN hu >= CAST('9223372036854775808' AS HUGEINT)
            THEN hu - CAST('18446744073709551616' AS HUGEINT)
            ELSE hu END AS BIGINT) AS h
        FROM h0),
      a8 AS (SELECT k, node AS node_before FROM (
          SELECT k, node, ROW_NUMBER() OVER (PARTITION BY k
            ORDER BY h DESC, node DESC) AS rn
          FROM hs WHERE node < 8) t WHERE rn = 1),
      a9 AS (SELECT k, node AS node_after FROM (
          SELECT k, node, ROW_NUMBER() OVER (PARTITION BY k
            ORDER BY h DESC, node DESC) AS rn
          FROM hs) t WHERE rn = 1)
      SELECT node_before, node_after, COUNT(*) AS n_keys,
        CAST(SUM(k) AS BIGINT) AS sum_keys
      FROM a8 JOIN a9 USING (k)
      GROUP BY 1, 2 ORDER BY node_before, node_after"""
    }),

    // Exact weighted median per group (quantity-weighted price): the
    // 100 TB-safe shape pre-aggregates the corpus to one row per
    // (group, value) — a map-side-combinable keyed agg — and only THEN
    // runs the cumulative window over the distinct-value relation, so
    // the window input is value-cardinality-sized, not corpus-sized.
    // All integer arithmetic: the weighted median is the smallest value
    // whose doubled cumulative weight reaches the group total.
    ("q213_weighted_median", (s: SparkSession, d: String) => {
      val agg = t(s, d, "lineitem")
        .groupBy(col("l_returnflag"), (price * lit(100)).cast("long").as("cents"))
        .agg(sum(qty.cast("long")).as("w"))
      val byVal = Window.partitionBy("l_returnflag").orderBy("cents")
      agg
        .withColumn("cumw", sum(col("w")).over(byVal
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("tw", sum(col("w")).over(Window.partitionBy("l_returnflag")))
        .groupBy("l_returnflag")
        .agg(max("tw").as("total_w"),
          min(when(col("cumw") * 2 >= col("tw"), col("cents")))
            .as("wmedian_cents"))
        .orderBy("l_returnflag")
    }, Some(s"""
      WITH a AS (SELECT l_returnflag, CAST($oPrice * 100 AS BIGINT) AS cents,
          CAST(SUM(CAST($oQty AS BIGINT)) AS BIGINT) AS w
        FROM lineitem GROUP BY 1, 2),
      c AS (SELECT l_returnflag, cents, w,
          SUM(w) OVER (PARTITION BY l_returnflag ORDER BY cents
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
          SUM(w) OVER (PARTITION BY l_returnflag) AS tw
        FROM a)
      SELECT l_returnflag, CAST(MAX(tw) AS BIGINT) AS total_w,
        CAST(MIN(CASE WHEN cumw * 2 >= tw THEN cents END) AS BIGINT)
          AS wmedian_cents
      FROM c GROUP BY 1 ORDER BY l_returnflag""")),

    // Observation API (CollectMetrics): accumulator-style metrics
    // collected DURING a pipeline run — count + exact-cents sum of the
    // gated rows piggyback on the write job (a noop sink stands in for
    // the production sink), with no second scan of the input. This is
    // the data-quality-counters surface every production pipeline bolts
    // on; at 100 TB the alternative (re-scanning to audit) doubles the
    // read. The observed row is driver-side but one metadata-sized
    // tuple; the oracle recomputes both metrics relationally.
    ("q214_observed_metrics", (s: SparkSession, d: String) => {
      import s.implicits._
      val obs = org.apache.spark.sql.Observation()
      t(s, d, "lineitem")
        .filter(col("l_quantity") < lit(30))
        .observe(obs, count(lit(1)).as("n_rows"),
          sum((price * lit(100)).cast("long")).as("price_cents"))
        .write.format("noop").mode("overwrite").save()
      val m = obs.get
      Seq((m("n_rows").asInstanceOf[Long],
        m("price_cents").asInstanceOf[Long])).toDF("n_rows", "price_cents")
    }, Some(s"""
      SELECT COUNT(*) AS n_rows,
        CAST(SUM(CAST($oPrice * 100 AS BIGINT)) AS BIGINT) AS price_cents
      FROM lineitem WHERE CAST(l_quantity AS DECIMAL(10,2)) < 30""")),

    // Exact Spearman rank correlation (quantity vs discount per return
    // flag): average ranks are computed EXACTLY as doubled integers
    // (2·#smaller + cnt + 1) from a per-(group, value) pre-aggregate —
    // value-cardinality-sized, broadcast back — then the q205 moment-sum
    // discipline closes the Pearson form over the integer ranks: six
    // exact int64 sums, identical double expression trees, one closing
    // SQRT+division (both correctly rounded IEEE, so the floats
    // hash-match). 100 TB shape: the corpus shuffles once per moment
    // aggregate; ranks join back via broadcast of the tiny value tables.
    ("q215_spearman_rank", (s: SparkSession, d: String) => {
      val li = t(s, d, "lineitem").select(col("l_returnflag").as("g"),
        (qty * lit(100)).cast("long").as("x"),
        (disc * lit(100)).cast("long").as("y"))
      def ranks(c: String, out: String) = {
        val w = Window.partitionBy("g").orderBy(c)
        li.groupBy(col("g"), col(c)).agg(count(lit(1)).as("cnt"))
          .withColumn(out, lit(2L) * coalesce(sum(col("cnt")).over(
            w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)) +
            col("cnt") + 1)
          .select(col("g"), col(c), col(out))
      }
      val ranked = li
        .join(broadcast(ranks("x", "rx")), Seq("g", "x"))
        .join(broadcast(ranks("y", "ry")), Seq("g", "y"))
      val m = ranked.groupBy("g").agg(count(lit(1)).as("n"),
        sum(col("rx")).as("sx"), sum(col("ry")).as("sy"),
        sum(col("rx") * col("rx")).as("sxx"),
        sum(col("rx") * col("ry")).as("sxy"),
        sum(col("ry") * col("ry")).as("syy"))
      val nD = col("n").cast("double")
      val sxD = col("sx").cast("double")
      val syD = col("sy").cast("double")
      m.select(col("g").as("l_returnflag"), col("n"),
          ((nD * col("sxy").cast("double") - sxD * syD) /
            sqrt((nD * col("sxx").cast("double") - sxD * sxD) *
              (nD * col("syy").cast("double") - syD * syD))).as("rho"))
        .orderBy("l_returnflag")
    }, Some(s"""
      WITH r AS (SELECT l_returnflag AS g,
          CAST($oQty * 100 AS BIGINT) AS x,
          CAST($oDisc * 100 AS BIGINT) AS y
        FROM lineitem),
      vx AS (SELECT g, x, COUNT(*) AS cnt FROM r GROUP BY 1, 2),
      rx AS (SELECT g, x, CAST(2 * COALESCE(SUM(cnt) OVER (PARTITION BY g
          ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          + cnt + 1 AS BIGINT) AS rxv
        FROM vx),
      vy AS (SELECT g, y, COUNT(*) AS cnt FROM r GROUP BY 1, 2),
      ry AS (SELECT g, y, CAST(2 * COALESCE(SUM(cnt) OVER (PARTITION BY g
          ORDER BY y ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          + cnt + 1 AS BIGINT) AS ryv
        FROM vy),
      j AS (SELECT r.g, rx.rxv, ry.ryv FROM r
        JOIN rx ON r.g = rx.g AND r.x = rx.x
        JOIN ry ON r.g = ry.g AND r.y = ry.y),
      m AS (SELECT g, COUNT(*) AS n,
          CAST(SUM(rxv) AS BIGINT) AS sx, CAST(SUM(ryv) AS BIGINT) AS sy,
          CAST(SUM(rxv * rxv) AS BIGINT) AS sxx,
          CAST(SUM(rxv * ryv) AS BIGINT) AS sxy,
          CAST(SUM(ryv * ryv) AS BIGINT) AS syy
        FROM j GROUP BY 1)
      SELECT g AS l_returnflag, n,
        (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        / SQRT((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS rho
      FROM m ORDER BY l_returnflag""")),

    // Stream-stream LEFT SEMI join — the streaming existence filter
    // (purchases with at least one prior-day view, emitted once, no view
    // columns, no duplication on multiple matches). Completes the
    // stream-stream family beside inner (q135) and left-outer (q183);
    // real micro-batch execution through the oracle's EXISTS replay.
    ("q216_stream_semi_join", (s: SparkSession, d: String) => {
      val joined =
        Streams.purchaseViewSemiJoin(Tables.stream(s, d, "events"), "24 hours")
      Streams.drain(joined, "append", sized(s, d))
        .select("user_id", "p_id").orderBy("user_id", "p_id")
    }, Some("""
      SELECT p.user_id, p.event_id AS p_id
      FROM events p
      WHERE p.event_type = 'purchase' AND EXISTS (
        SELECT 1 FROM events v
        WHERE v.event_type = 'view' AND v.user_id = p.user_id
          AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL 24 HOUR)
      ORDER BY p.user_id, p_id""")),

    // Incremental view maintenance for a JOIN-aggregate (the delta
    // algebra q179 applies to a rollup, extended to a two-sided join):
    // ΔQ = Δo⋈c₀ ∪ o₀⋈Δc ∪ Δo⋈Δc — three DELTA-SIZED joins merged into
    // the materialized base by key-summing, never a recompute of
    // o₀⋈c₀. At 100 TB this is the difference between touching the
    // day's increment and re-reading the table; deletions ride the same
    // algebra with signed multiplicities. The oracle recomputes the
    // full join flat — the delta result must hash-match it exactly
    // (exact-cents integer accumulators make the merge order-free).
    ("q217_incremental_join_mv", (s: SparkSession, d: String) => {
      val ord = t(s, d, "orders").select(col("o_custkey"),
        (Exact.dec(col("o_totalprice"), 12) * 100).cast("long").as("cents"),
        col("o_orderdate"))
      val cust = t(s, d, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      val o0 = ord.filter(col("o_orderdate") < lit("1997-01-01"))
      val dO = ord.filter(col("o_orderdate") >= lit("1997-01-01"))
      val c0 = cust.filter(col("c_custkey") % 20 =!= 0)
      val dC = cust.filter(col("c_custkey") % 20 === 0)
      def q(a: DataFrame, b: DataFrame) =
        a.join(b, col("o_custkey") === col("c_custkey"))
          .groupBy("c_nationkey")
          .agg(count(lit(1)).as("n"), sum("cents").as("cents"))
      val mv0 = q(o0, c0)
      val deltas = q(dO, c0).unionAll(q(o0, dC)).unionAll(q(dO, dC))
      mv0.unionAll(deltas).groupBy("c_nationkey")
        .agg(sum("n").as("n"), sum("cents").as("cents"))
        .orderBy("c_nationkey")
    }, Some("""
      SELECT c_nationkey, COUNT(*) AS n,
        CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
          AS BIGINT) AS cents
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1 ORDER BY c_nationkey""")),

    // End-to-end entity resolution: edit-distance-1 blocking
    // (deletion-neighborhood inverted index, q169's primitive, block-gated
    // AT the candidate join so cross-nation candidates are never
    // generated), then connected components over the match graph
    // (alternating-star, q76's machinery), reported as multi-member
    // entities with min-id canonical labels. The full dedupe-entities
    // workload COMPOSED from library operators — candidate generation
    // never leaves keyed joins, CC shuffles two longs per edge; the
    // match graph is materialized ONCE before CC (it feeds both the
    // endpoint set and the iterated edge relation — without the pin each
    // consumer re-runs the whole candidate pipeline). The oracle replays
    // quadratic-within-block levenshtein plus a transitive-closure
    // recursive CTE.
    ("q218_entity_resolution", (s: SparkSession, d: String) => {
      import graft.llm.{Components, NearDup}
      val c = t(s, d, "customer").select(col("c_custkey").as("id"),
        col("c_nationkey").as("blk"), col("c_name").as("name"))
      val e = materialize(
        NearDup.editDistance1Edges(c, "id", "name", "blk")).df
      val endpoints = e.select(col("src").as("id"))
        .union(e.select(col("dst").as("id"))).distinct()
      Bsp.releaseUnread(Components.connectedComponentsStars(endpoints, e)
        .groupBy(col("component").as("entity_id"))
        .agg(count(lit(1)).as("n_members"), sum(col("id")).as("sum_members"))
        .filter(col("n_members") >= 2)
        .orderBy("entity_id"), e)
    }, Some("""
      WITH RECURSIVE
      c AS (SELECT c_custkey AS id, c_nationkey AS blk, c_name AS name
            FROM customer),
      p AS (SELECT a.id AS src, b.id AS dst FROM c a JOIN c b
            ON a.blk = b.blk AND a.name < b.name
            AND levenshtein(a.name, b.name) <= 1),
      edges AS (SELECT src AS u, dst AS v FROM p
                UNION SELECT dst, src FROM p),
      reach AS (SELECT u, v FROM edges
                UNION
                SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
                WHERE e.v <> r.u),
      comp AS (SELECT u AS id, LEAST(u, MIN(v)) AS entity_id
               FROM reach GROUP BY u)
      SELECT entity_id, COUNT(*) AS n_members,
        CAST(SUM(id) AS BIGINT) AS sum_members
      FROM comp GROUP BY 1 HAVING COUNT(*) >= 2 ORDER BY entity_id""")),

    // Three-valued-logic semantics pin: the SQL null edge cases that
    // silently differ between hand-rolled engines, asserted equal across
    // both through one scalar row — NOT IN against a subquery containing
    // a NULL matches NOTHING (while NOT EXISTS counts normally),
    // count(col) skips nulls where count(*) doesn't, count(DISTINCT)
    // skips them too, SUM over an empty set is NULL (surfaced via
    // coalesce), and GREATEST ignores nulls rather than propagating
    // them. Every value is an exact integer.
    ("q219_null_semantics", (s: SparkSession, d: String) => {
      val c = t(s, d, "customer").select(col("c_custkey"),
        when(col("c_custkey") % 7 === 0, lit(null).cast("long"))
          .otherwise(col("c_custkey")).as("k_n"))
      val sub = c.select(
        when(col("c_custkey") % 11 === 0, lit(null).cast("long"))
          .otherwise(col("c_custkey")).as("s_k"))
      // NOT IN with a nullable subquery must go through SQL for true
      // three-valued semantics (the DataFrame left_anti join is
      // NOT EXISTS, which deliberately differs — both appear below)
      c.createOrReplaceTempView("q219_c")
      sub.createOrReplaceTempView("q219_sub")
      t(s, d, "orders").createOrReplaceTempView("q219_o")
      s.sql("""
        SELECT
          (SELECT COUNT(*) FROM q219_c) AS n_total,
          (SELECT COUNT(k_n) FROM q219_c) AS n_nonnull,
          (SELECT COUNT(DISTINCT k_n) FROM q219_c) AS n_distinct,
          (SELECT COUNT(*) FROM q219_o
            WHERE o_custkey NOT IN (SELECT s_k FROM q219_sub)) AS n_not_in,
          (SELECT COUNT(*) FROM q219_o o WHERE NOT EXISTS (
            SELECT 1 FROM q219_sub s WHERE s.s_k = o.o_custkey))
            AS n_not_exists,
          (SELECT COALESCE(CAST(SUM(k_n) AS BIGINT), -1) FROM q219_c
            WHERE k_n < 0) AS sum_empty,
          (SELECT CAST(SUM(GREATEST(k_n, CAST(0 AS BIGINT))) AS BIGINT)
            FROM q219_c) AS sum_greatest""")
    }, Some("""
      WITH c AS (SELECT c_custkey,
          CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_custkey END AS k_n
        FROM customer),
      sub AS (SELECT CASE WHEN c_custkey % 11 = 0 THEN NULL
          ELSE c_custkey END AS s_k FROM customer)
      SELECT
        (SELECT COUNT(*) FROM c) AS n_total,
        (SELECT COUNT(k_n) FROM c) AS n_nonnull,
        (SELECT COUNT(DISTINCT k_n) FROM c) AS n_distinct,
        (SELECT COUNT(*) FROM orders
          WHERE o_custkey NOT IN (SELECT s_k FROM sub)) AS n_not_in,
        (SELECT COUNT(*) FROM orders o WHERE NOT EXISTS (
          SELECT 1 FROM sub s WHERE s.s_k = o.o_custkey)) AS n_not_exists,
        (SELECT COALESCE(CAST(SUM(k_n) AS BIGINT), -1) FROM c
          WHERE k_n < 0) AS sum_empty,
        (SELECT CAST(SUM(GREATEST(k_n, CAST(0 AS BIGINT))) AS BIGINT)
          FROM c) AS sum_greatest""")),

    // Change data feed across snapshots (Delta's table_changes surface):
    // the row-level catalog's versioned history turned into a
    // (op, row) change stream by diffing two time-travel reads with BAG
    // semantics (EXCEPT ALL both directions) — an UPDATE surfaces as
    // delete(old) + insert(new), a DELETE as delete(old), with exact
    // integer payloads. Lifecycle: INSERT (v1) → UPDATE %5 keys (v2) →
    // DELETE %9 keys (v3); the oracle replays the CDF from the base
    // relation with CASE logic. Snapshot diffs are snapshot-scan-sized —
    // at 100 TB a real CDF would read the per-commit manifests (the
    // history relation q201 exposes) instead of full scans; the diff
    // here IS the semantic contract those manifests must reproduce.
    ("q220_table_changes", (s: SparkSession, d: String) => {
      val tbl = rowLevelTable(s, d, "cdf")
      t(s, d, "events").groupBy("user_id")
        .agg(count(lit(1)).as("n"),
          sum((Exact.dec(col("value"), 12) * 100).cast("long")).as("cents"))
        .createOrReplaceTempView("q220_src")
      s.sql(s"CREATE TABLE $tbl (user_id BIGINT, n BIGINT, cents BIGINT)")
      s.sql(s"INSERT INTO $tbl SELECT user_id, n, cents FROM q220_src")
      s.sql(s"UPDATE $tbl SET cents = cents + 100 WHERE user_id % 5 = 0")
      s.sql(s"DELETE FROM $tbl WHERE user_id % 9 = 1")
      s.sql(s"""
        SELECT 'insert' AS op, user_id, n, cents FROM (
          SELECT user_id, n, cents FROM $tbl VERSION AS OF 3
          EXCEPT ALL
          SELECT user_id, n, cents FROM $tbl VERSION AS OF 1)
        UNION ALL
        SELECT 'delete' AS op, user_id, n, cents FROM (
          SELECT user_id, n, cents FROM $tbl VERSION AS OF 1
          EXCEPT ALL
          SELECT user_id, n, cents FROM $tbl VERSION AS OF 3)""")
        .orderBy("op", "user_id")
    }, Some("""
      WITH g AS (SELECT user_id, COUNT(*) AS n,
          CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT))
            AS BIGINT) AS cents
        FROM events GROUP BY 1)
      SELECT 'insert' AS op, user_id, n, CAST(cents + 100 AS BIGINT) AS cents
        FROM g WHERE user_id % 5 = 0 AND user_id % 9 <> 1
      UNION ALL
      SELECT 'delete' AS op, user_id, n, cents
        FROM g WHERE user_id % 9 = 1 OR user_id % 5 = 0
      ORDER BY op, user_id""")),

    // AQE skew-join handling: 80% of the fact rows collapse onto ONE
    // join key, the thresholds are tuned so the optimizer detects the
    // hot partition at runtime and splits it (SortMergeJoin(skew=true),
    // pinned in PlanQualitySpec with this same construction) — the
    // engine-side answer to skew that ops.Skew's manual salting (q61/62)
    // solves by hand. Confs are scoped: the join materializes eagerly
    // under them (materialize), then they restore, so no other
    // query inherits the disabled broadcast. The oracle checks the
    // result is exactly the un-skew-handled answer.
    ("q221_aqe_skew_join", (s: SparkSession, d: String) => {
      // repartition first: a skewed REDUCE partition splits along
      // MAP-output boundaries, so the single-file local scan (one
      // mapper) must be fanned out for the splitter to have units to
      // work with — on a real cluster the thousands of scan tasks
      // provide this for free
      val fact = t(s, d, "lineitem").repartition(8).select(
        when(col("l_orderkey") % 10 < 8, lit(1L))
          .otherwise(col("l_orderkey") % 100 + 1).as("k"),
        (qty * lit(100)).cast("long").as("qc"))
      val dim = t(s, d, "customer")
        .filter(col("c_custkey") <= 100)
        .select(col("c_custkey").as("k"), col("c_nationkey"))
      val joined = fact.join(dim, "k").groupBy("c_nationkey")
        .agg(count(lit(1)).as("n"), sum("qc").as("qc"))
        .orderBy("c_nationkey")
      withScopedConfs(s,
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "4096",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1024",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0")(joined)
    }, Some("""
      WITH f AS (SELECT CASE WHEN l_orderkey % 10 < 8 THEN 1
          ELSE l_orderkey % 100 + 1 END AS k,
          CAST(CAST(l_quantity AS DECIMAL(10,2)) * 100 AS BIGINT) AS qc
        FROM lineitem)
      SELECT c_nationkey, COUNT(*) AS n, CAST(SUM(qc) AS BIGINT) AS qc
      FROM f JOIN customer ON k = c_custkey
      WHERE c_custkey <= 100
      GROUP BY 1 ORDER BY c_nationkey""")),

    // Runtime bloom-filter join pruning: with a selective dim-side
    // filter, the optimizer injects a bloom build on the dim side and a
    // might_contain probe INTO THE FACT SCAN of a shuffle join — rows
    // that cannot match never enter the exchange (the engine-side form
    // of q160's hand-built bloom pre-filter; PlanQualitySpec pins
    // might_contain in this construction). Conf scoping as in q221; the
    // oracle checks the filter is semantically invisible.
    ("q222_runtime_bloom_join", (s: SparkSession, d: String) => {
      val sel = t(s, d, "orders")
        .filter(col("o_orderdate") >= lit("1998-06-01"))
        .select(col("o_orderkey"), col("o_custkey"))
      val joined = t(s, d, "lineitem")
        .select(col("l_orderkey"), (qty * lit(100)).cast("long").as("qc"))
        .join(sel, col("l_orderkey") === col("o_orderkey"))
        .groupBy((col("o_custkey") % 10).as("bucket"))
        .agg(count(lit(1)).as("n"), sum("qc").as("qc"))
        .orderBy("bucket")
      withScopedConfs(s,
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB")(joined)
    }, Some("""
      SELECT o_custkey % 10 AS bucket, COUNT(*) AS n,
        CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(10,2)) * 100 AS BIGINT))
          AS BIGINT) AS qc
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderdate >= DATE '1998-06-01'
      GROUP BY 1 ORDER BY bucket""")),

    // Declarative constraint verification (ops.Checks — the Deequ-style
    // check suite, the gate a pipeline runs before publishing a table;
    // distinct from q92's metric profiler). Six orders-side checks fuse
    // into ONE scan+aggregate (uniqueness adds the count-distinct
    // Expand); the cross-table referential check is an anti-join count
    // unioned into the same report. Verdict semantics (n_violations,
    // PASS/FAIL) replayed exactly in DuckDB.
    ("q227_check_suite", (s: SparkSession, d: String) => {
      val o = t(s, d, "orders")
      val onOrders = Checks.verify(o, Seq(
        Checks.uniqueness("uniqueness_o_orderkey", col("o_orderkey")),
        Checks.rowCheck("completeness_o_custkey", col("o_custkey").isNull),
        Checks.rowCheck("domain_o_orderstatus",
          !col("o_orderstatus").isin("O", "F", "P")),
        Checks.rowCheck("range_o_totalprice", !(col("o_totalprice") > 0)),
        Checks.rowCheck("pattern_o_orderpriority",
          !col("o_orderpriority").rlike("^[1-5]-")),
        Checks.rowCheck("timeliness_o_orderdate",
          col("o_orderdate") < lit("1992-01-01").cast("timestamp") ||
            col("o_orderdate") >= lit("1999-01-01").cast("timestamp"))))
      val orphans = t(s, d, "lineitem")
        .join(o, col("l_orderkey") === col("o_orderkey"), "left_anti")
      val ri = Checks.verify(orphans,
        Seq("referential_lineitem_orders" -> count(lit(1))))
      onOrders.union(ri).orderBy("check_name")
    }, Some("""
      WITH a AS (SELECT
          count(*) - count(DISTINCT o_orderkey) AS uniq_v,
          count(*) FILTER (WHERE o_custkey IS NULL) AS comp_v,
          count(*) FILTER (WHERE o_orderstatus NOT IN ('O','F','P')) AS dom_v,
          count(*) FILTER (WHERE NOT (o_totalprice > 0)) AS rng_v,
          count(*) FILTER (WHERE NOT regexp_matches(o_orderpriority,
            '^[1-5]-')) AS pat_v,
          count(*) FILTER (WHERE o_orderdate < TIMESTAMP '1992-01-01'
            OR o_orderdate >= TIMESTAMP '1999-01-01') AS dt_v
        FROM orders),
      r AS (SELECT count(*) AS ri_v FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o
          WHERE o.o_orderkey = l.l_orderkey)),
      u AS (
        SELECT 'uniqueness_o_orderkey' AS check_name, uniq_v AS v FROM a
        UNION ALL SELECT 'completeness_o_custkey', comp_v FROM a
        UNION ALL SELECT 'domain_o_orderstatus', dom_v FROM a
        UNION ALL SELECT 'range_o_totalprice', rng_v FROM a
        UNION ALL SELECT 'pattern_o_orderpriority', pat_v FROM a
        UNION ALL SELECT 'timeliness_o_orderdate', dt_v FROM a
        UNION ALL SELECT 'referential_lineitem_orders', ri_v FROM r)
      SELECT check_name, CAST(v AS BIGINT) AS n_violations,
        CASE WHEN v = 0 THEN 'PASS' ELSE 'FAIL' END AS status
      FROM u ORDER BY check_name""")),

    // Stream-stream FULL OUTER join — the last member of the streaming
    // join family (inner q135, left-outer q183, left-semi q216):
    // unmatched rows on EITHER side null-extend when the watermark
    // closes their window, so views that never led to a purchase
    // surface alongside purchases that had no prior view. Same sentinel
    // scaffold as q183 (one far-future row per side, a user that can
    // never match) forces every real window closed before the stream
    // drains; the batch oracle is the plain FULL JOIN.
    ("q233_stream_full_outer_join", (s: SparkSession, d: String) => {
      val raw = t(s, d, "events")
      val inDir = s"/tmp/graft_q233/${new java.io.File(d).getName}/in"
      val maxTs = raw.agg(max(unix_micros(col("ts")))).head().getLong(0)
      val far = maxTs + 30L * 24 * 3600 * 1000000L
      val sentinels = s.range(2).select(
        (col("id") + 20000000L).as("event_id"),
        timestamp_micros(lit(far) + col("id") * 864000000000L).as("ts"),
        lit(-1L).as("user_id"),
        when(col("id") === 0, "purchase").otherwise("view").as("event_type"),
        lit(0.0).as("value"), lit("{}").as("props"))
      raw.unionByName(sentinels).coalesce(2)
        .write.mode("overwrite").parquet(inDir)
      val stream = s.readStream.schema(raw.schema).parquet(inDir)
      val joined = Streams.purchaseViewFullJoin(stream)
      Streams.drain(joined, "append", sized(s, d))
        .filter(col("user_id") >= 0)
        .select("user_id", "p_id", "v_id")
        .orderBy("user_id", "p_id", "v_id")
    }, Some("""
      SELECT COALESCE(p.user_id, v.user_id) AS user_id,
        p.event_id AS p_id, v.event_id AS v_id
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      FULL JOIN (SELECT * FROM events WHERE event_type = 'view') v
        ON p.user_id = v.user_id
        AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL 1 HOUR
      ORDER BY user_id NULLS FIRST, p_id NULLS FIRST, v_id NULLS FIRST""")),

    // Mann-Whitney U (Wilcoxon rank-sum) — the nonparametric two-sample
    // location test, completing the stats family beside moments (q71),
    // regression (q205), Spearman (q215), chi-square (q207): does the
    // n_chars distribution of English docs differ from the rest? The
    // q215 doubled-rank discipline keeps EVERYTHING integer: doubled
    // average ranks from the value-count pre-aggregate (ties share),
    // doubled U = Σr2 − n(n+1) per group; the identity
    // u2_en + u2_other = 2·n_en·n_other is the built-in cross-check.
    // The corpus crosses one value-count aggregate; the rank window
    // runs on the value-cardinality-sized relation.
    ("q240_mann_whitney_u", (s: SparkSession, d: String) => {
      val v = t(s, d, "documents")
        .select((col("lang") === "en").as("grp"), col("n_chars").as("v"))
      val cnts = v.groupBy("v").agg(count(lit(1)).as("cnt"),
        sum(when(col("grp"), 1L).otherwise(0L)).as("cnt_en"))
      val w = Window.orderBy("v")
      val r2 = cnts.withColumn("r2",
        lit(2L) * coalesce(sum(col("cnt")).over(
          w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)) +
          col("cnt") + 1)
      r2.agg(sum(col("cnt_en")).as("n_en"),
          sum(col("cnt") - col("cnt_en")).as("n_other"),
          sum(col("cnt_en") * col("r2")).as("rr_en"),
          sum((col("cnt") - col("cnt_en")) * col("r2")).as("rr_other"))
        .select(col("n_en"), col("n_other"),
          (col("rr_en") - col("n_en") * (col("n_en") + 1)).as("u2_en"),
          (col("rr_other") - col("n_other") * (col("n_other") + 1))
            .as("u2_other"))
    }, Some("""
      WITH v AS (SELECT (lang = 'en') AS grp, n_chars AS v FROM documents),
      c AS (SELECT v, COUNT(*) AS cnt,
          SUM(CASE WHEN grp THEN 1 ELSE 0 END) AS cnt_en
        FROM v GROUP BY 1),
      r AS (SELECT v, cnt, cnt_en,
          2 * COALESCE(SUM(cnt) OVER (ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            + cnt + 1 AS r2
        FROM c),
      m AS (SELECT CAST(SUM(cnt_en) AS BIGINT) AS n_en,
          CAST(SUM(cnt - cnt_en) AS BIGINT) AS n_other,
          CAST(SUM(cnt_en * r2) AS BIGINT) AS rr_en,
          CAST(SUM((cnt - cnt_en) * r2) AS BIGINT) AS rr_other
        FROM r)
      SELECT n_en, n_other,
        CAST(rr_en - n_en * (n_en + 1) AS BIGINT) AS u2_en,
        CAST(rr_other - n_other * (n_other + 1) AS BIGINT) AS u2_other
      FROM m""")),

    // KMV (bottom-k) distinct sketch under the exact gate (the q147
    // discipline: approx and exact side by side, both replayed): the
    // order-statistics sketch member beside HLL (q157), bloom (q160),
    // count-min (q161) — k smallest xxhash64 values, estimate
    // (k-1)·2^64/U from the k-th. The k survivors come from a
    // TakeOrderedAndProject (per-partition top-k), never a global sort;
    // the one float is the closing division of identical exact ints.
    ("q241_kmv_distinct", (s: SparkSession, d: String) => {
      val li = t(s, d, "lineitem")
      Sketches.kmvDistinct(li, "l_orderkey", k = 256)
        .crossJoin(broadcast(
          li.agg(countDistinct(col("l_orderkey")).as("exact_distinct"))))
    }, Some {
      import graft.llm.XxHashOracle
      // DISTINCT keys first (sets of hashes are equal either way), then
      // the linear per-step hash chain — the inline macro evaluated its
      // argument ~1000x per lineitem ROW and was the suite's #2
      // heavyweight (19.8 s in the round-8 timing).
      val hashed = XxHashOracle.hashLongSubquery(
        "(SELECT DISTINCT l_orderkey FROM lineitem)", Seq.empty,
        "CAST(l_orderkey AS HUGEINT)", "CAST(42 AS HUGEINT)", "hu")
      s"""
      WITH h AS (SELECT DISTINCT ${XxHashOracle.signed("hu")} AS h
        FROM $hashed AS _hs),
      k AS (SELECT h FROM h ORDER BY h LIMIT 256),
      s AS (SELECT COUNT(*) AS n_kept,
            CAST(MAX(h) AS BIGINT) AS kth_hash FROM k),
      e AS (SELECT COUNT(DISTINCT l_orderkey) AS exact_distinct
            FROM lineitem)
      SELECT n_kept, kth_hash,
        CASE WHEN n_kept < 256 THEN CAST(n_kept AS DOUBLE)
             ELSE 255.0 * 18446744073709551616.0 /
               CAST(CAST(kth_hash AS HUGEINT)
                 + CAST('9223372036854775808' AS HUGEINT) AS DOUBLE)
        END AS est_distinct, exact_distinct
      FROM s, e"""
    }),

    // Hilbert-curve layout (ops.Layout.hilbertIndex) — q151's Z-order
    // sibling with the curve that never takes Morton's quadrant-boundary
    // diagonal jumps, so per-file min/max boxes come out tighter. Same
    // manifest shape as q151 (64 equal-width curve ranges -> per-file
    // min/max of both dimensions); the oracle replays the xy2d walk
    // through hilbertSqlCtes — one CTE per bit level, generated from
    // the same loop as the engine's per-level projections.
    ("q242_hilbert_layout", (s: SparkSession, d: String) => {
      import graft.ops.Layout
      val li = t(s, d, "lineitem").select(
        (col("l_partkey") % 4096).cast("long").as("pk"),
        (col("l_suppkey") % 4096).cast("long").as("sk"))
      val h = Layout.hilbertIndex(li, "pk", "sk", bits = 12)
      val width = h.agg((expr("max(h) div 64") + 1).as("width"))
      h.crossJoin(broadcast(width))
        .withColumn("bucket", expr("h div width"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          min("pk").as("pk_min"), max("pk").as("pk_max"),
          min("sk").as("sk_min"), max("sk").as("sk_max"))
        .orderBy("bucket")
    }, Some(s"""
      WITH src AS (SELECT CAST(l_partkey % 4096 AS BIGINT) AS pk,
          CAST(l_suppkey % 4096 AS BIGINT) AS sk,
          CAST(l_partkey % 4096 AS BIGINT) AS hx,
          CAST(l_suppkey % 4096 AS BIGINT) AS hy FROM lineitem),
      ${graft.ops.Layout.hilbertSqlCtes("src", Seq("pk", "sk"), 12)},
      b AS (SELECT hd AS h, pk, sk FROM h12),
      w AS (SELECT (MAX(h) // 64) + 1 AS width FROM b)
      SELECT h // width AS bucket, COUNT(*) AS n,
        MIN(pk) AS pk_min, MAX(pk) AS pk_max,
        MIN(sk) AS sk_min, MAX(sk) AS sk_max
      FROM b, w GROUP BY 1 ORDER BY bucket""")),

    // KMV set-intersection estimate under the exact gate — the
    // operation q241's sketch family supports and HLL cannot: how many
    // customers ordered in BOTH 1995 and 1997? The union's bottom-k is
    // a uniform hash sample, m/k of it in both sides estimates the
    // Jaccard, est_inter = (m/k)·D̂_union. Join-cardinality estimation
    // without touching either full key set twice. Exact counts ride
    // alongside; both engines divide identical exact integers.
    ("q243_kmv_intersect", (s: SparkSession, d: String) => {
      val o = t(s, d, "orders").select(col("o_custkey"),
        year(col("o_orderdate")).as("yr"))
      val exact = o.groupBy("o_custkey")
        .agg(max(when(col("yr") === 1995, 1).otherwise(0)).as("a"),
          max(when(col("yr") === 1997, 1).otherwise(0)).as("b"))
        .agg(sum(col("a") * col("b")).as("exact_inter"))
      Sketches.kmvIntersect(o, "o_custkey",
          col("yr") === 1995, col("yr") === 1997, k = 256)
        .crossJoin(broadcast(exact))
    }, Some {
      import graft.llm.XxHashOracle
      s"""
      WITH o AS (SELECT o_custkey, EXTRACT(year FROM o_orderdate) AS yr
                 FROM orders),
      f AS (SELECT o_custkey,
          MAX(CASE WHEN yr = 1995 THEN 1 ELSE 0 END) AS a,
          MAX(CASE WHEN yr = 1997 THEN 1 ELSE 0 END) AS b
        FROM o GROUP BY 1),
      fk AS (SELECT h, a, b FROM ${XxHashOracle.signedHashCol(
          "(SELECT * FROM f WHERE a = 1 OR b = 1)",
          Seq("a", "b", "o_custkey"),
          "CAST(o_custkey AS HUGEINT)", "h")} _fk),
      k AS (SELECT h, a, b FROM fk ORDER BY h LIMIT 256),
      s AS (SELECT COUNT(*) AS n_kept,
          CAST(SUM(a * b) AS BIGINT) AS n_both,
          CAST(MAX(h) AS BIGINT) AS kth FROM k),
      e AS (SELECT CAST(SUM(a * b) AS BIGINT) AS exact_inter FROM f),
      u AS (SELECT n_kept, n_both,
          CASE WHEN n_kept < 256 THEN CAST(n_kept AS DOUBLE)
               ELSE 255.0 * 18446744073709551616.0 /
                 CAST(CAST(kth AS HUGEINT)
                   + CAST('9223372036854775808' AS HUGEINT) AS DOUBLE)
          END AS est_union
        FROM s)
      SELECT n_kept, n_both, est_union,
        CAST(n_both AS DOUBLE) / n_kept * est_union AS est_inter,
        exact_inter
      FROM u, e"""
    }),

    // Exact two-sample Kolmogorov-Smirnov statistic — THE
    // distribution-drift test (is this week's doc-length distribution
    // the same as the reference period's?), beside Mann-Whitney's
    // location test (q240). sup|F1-F2| is computed WITHOUT floats:
    // D_num = max_v |cum1(v)·n2 - cum2(v)·n1| over the value-count
    // relation, D = D_num/(n1·n2) as the one closing division. The
    // corpus crosses one value-count aggregate; both cumulative sums
    // ride a single window over the value-cardinality-sized relation.
    ("q244_ks_statistic", (s: SparkSession, d: String) => {
      val v = t(s, d, "documents")
        .select((col("lang") === "en").as("grp"), col("n_chars").as("v"))
      val cnts = v.groupBy("v").agg(
        sum(when(col("grp"), 1L).otherwise(0L)).as("c1"),
        sum(when(col("grp"), 0L).otherwise(1L)).as("c2"))
      val w = Window.orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = cnts.select(
        sum(col("c1")).over(w).as("f1"), sum(col("c2")).over(w).as("f2"))
      val tot = cnts.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
      cum.crossJoin(broadcast(tot))
        .agg(max(abs(col("f1") * col("n2") - col("f2") * col("n1")))
          .as("d_num"), first(col("n1")).as("n1"), first(col("n2")).as("n2"))
        .select(col("n1"), col("n2"), col("d_num"),
          (col("d_num").cast("double") /
            (col("n1") * col("n2")).cast("double")).as("d_stat"))
    }, Some("""
      WITH v AS (SELECT (lang = 'en') AS grp, n_chars AS v FROM documents),
      c AS (SELECT v,
          SUM(CASE WHEN grp THEN 1 ELSE 0 END) AS c1,
          SUM(CASE WHEN grp THEN 0 ELSE 1 END) AS c2
        FROM v GROUP BY 1),
      f AS (SELECT
          SUM(c1) OVER (ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f1,
          SUM(c2) OVER (ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f2
        FROM c),
      t AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1,
          CAST(SUM(c2) AS BIGINT) AS n2 FROM c)
      SELECT n1, n2,
        CAST(MAX(ABS(f1 * n2 - f2 * n1)) AS BIGINT) AS d_num,
        CAST(MAX(ABS(f1 * n2 - f2 * n1)) AS DOUBLE)
          / CAST(n1 * n2 AS DOUBLE) AS d_stat
      FROM f, t GROUP BY n1, n2""")),

    // Bitmap-index audience overlap — the roaring-bitmap technique as
    // relational algebra: each year's buyer set packs into 32-bit words
    // (word = key div 32, one bit_or aggregate), pairwise overlap is
    // popcount(AND) summed over co-located words. The shuffle carries
    // domain/32 words per audience instead of the member lists, and the
    // word join is an equi-join on word index — how audience-overlap
    // matrices are computed over billions of members. Bitmaps are
    // EXACT, so the oracle replays the same packing and also the
    // direct distinct-member counts: they must agree.
    ("q245_bitmap_audience", (s: SparkSession, d: String) => {
      val o = t(s, d, "orders")
        .select(year(col("o_orderdate")).cast("long").as("yr"),
          col("o_custkey").as("k"))
        .filter(col("yr").isin(1995, 1996, 1997)).distinct()
      val words = o.groupBy(col("yr"), expr("k div 32").as("w"))
        .agg(bit_or(expr("shiftleft(CAST(1 AS BIGINT), CAST(k % 32 AS INT))"))
          .as("bits"))
      val counts = words.groupBy("yr")
        .agg(sum(bit_count(col("bits")).cast("long")).as("n"))
      val shared = words.as("a").join(words.as("b"),
          col("a.w") === col("b.w") && col("a.yr") < col("b.yr"))
        .groupBy(col("a.yr").as("yr_a"), col("b.yr").as("yr_b"))
        .agg(sum(bit_count(col("a.bits").bitwiseAND(col("b.bits")))
          .cast("long")).as("n_shared"))
      shared
        .join(broadcast(counts.select(col("yr").as("yr_a"), col("n").as("n_a"))),
          "yr_a")
        .join(broadcast(counts.select(col("yr").as("yr_b"), col("n").as("n_b"))),
          "yr_b")
        .select("yr_a", "yr_b", "n_a", "n_b", "n_shared")
        .orderBy("yr_a", "yr_b")
    }, Some("""
      WITH o AS (SELECT DISTINCT EXTRACT(year FROM o_orderdate) AS yr,
          o_custkey AS k
        FROM orders
        WHERE EXTRACT(year FROM o_orderdate) IN (1995, 1996, 1997)),
      words AS (SELECT yr, k // 32 AS w,
          bit_or(CAST(1 AS BIGINT) << CAST(k % 32 AS INT)) AS bits
        FROM o GROUP BY 1, 2),
      counts AS (SELECT yr, CAST(SUM(bit_count(bits)) AS BIGINT) AS n
        FROM words GROUP BY 1),
      shared AS (SELECT a.yr AS yr_a, b.yr AS yr_b,
          CAST(SUM(bit_count(a.bits & b.bits)) AS BIGINT) AS n_shared
        FROM words a JOIN words b ON a.w = b.w AND a.yr < b.yr
        GROUP BY 1, 2)
      SELECT yr_a, yr_b, ca.n AS n_a, cb.n AS n_b, n_shared
      FROM shared JOIN counts ca ON ca.yr = yr_a
                  JOIN counts cb ON cb.yr = yr_b
      ORDER BY yr_a, yr_b""")),

    // FORWARD as-of join (ops.AsOf.firstRightTs) — the "next event
    // after" lookup completing the as-of family (backward window-form
    // q18, backward native plan node q65): for each view, the user's
    // EARLIEST purchase at-or-after it. Same union + one keyed window
    // sort, frame flipped to [current, unbounded following] — linear in
    // |L|+|R|, never the quadratic pairwise range join the oracle runs.
    ("q246_asof_forward", (s: SparkSession, d: String) => {
      val ev = t(s, d, "events")
      val views = ev.filter(col("event_type") === "view")
        .select("event_id", "user_id", "ts")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("user_id", "ts")
      AsOf.firstRightTs(views, purchases, "user_id", "ts", "next_purchase_ts")
        .filter(col("next_purchase_ts").isNotNull)
        .select("event_id", "user_id", "next_purchase_ts")
        .orderBy("event_id")
    }, Some("""
      SELECT v.event_id, v.user_id, min(p.ts) AS next_purchase_ts
      FROM events v JOIN events p
        ON v.user_id = p.user_id AND p.ts >= v.ts
       AND p.event_type = 'purchase'
      WHERE v.event_type = 'view'
      GROUP BY v.event_id, v.user_id ORDER BY v.event_id""")),

    // Gaps-and-islands — longest consecutive-day activity streak per
    // user. The island id is dayNum - row_number() (constant within a
    // run of consecutive days), so the whole computation is one keyed
    // window plus two keyed aggregations: no self-join, no range join,
    // every shuffle keyed on user_id and linear in distinct
    // (user, day) pairs. The streak analytic a 100 TB events table
    // actually runs (DAU streaks, on-time delivery runs).
    ("q247_streak_islands", (s: SparkSession, d: String) => {
      val w = Window.partitionBy("user_id").orderBy("day_num")
      val islands = t(s, d, "events")
        .select(col("user_id"), to_date(col("ts")).as("day"))
        .distinct()
        .withColumn("day_num",
          datediff(col("day"), lit("1970-01-01").cast("date")).cast("long"))
        .withColumn("grp", col("day_num") - row_number().over(w))
        .groupBy("user_id", "grp").agg(count(lit(1)).as("len"))
      islands.groupBy("user_id")
        .agg(max("len").as("longest_streak"),
          count(lit(1)).as("n_islands"),
          sum("len").cast("long").as("n_active_days"))
        .filter(col("longest_streak") >= 3)
        .orderBy("user_id")
    }, Some("""
      WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
        FROM events),
      numbered AS (SELECT user_id,
          CAST(day - DATE '1970-01-01' AS BIGINT) AS day_num,
          ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS rn
        FROM days),
      islands AS (SELECT user_id, day_num - rn AS grp,
          CAST(COUNT(*) AS BIGINT) AS len
        FROM numbered GROUP BY 1, 2)
      SELECT user_id, MAX(len) AS longest_streak,
        CAST(COUNT(*) AS BIGINT) AS n_islands,
        CAST(SUM(len) AS BIGINT) AS n_active_days
      FROM islands GROUP BY user_id
      HAVING MAX(len) >= 3
      ORDER BY user_id""")),

    // Market-basket association rules — brand co-occurrence across
    // order baskets with support, confidence, and lift. The pair space
    // is generated per basket (bounded by distinct brands per order,
    // never corpus-quadratic), counts stay BIGINT end to end, and
    // confidence/lift are each ONE double division of exact integer
    // products. Item totals are brand-cardinality-sized and broadcast
    // onto the pair relation.
    ("q248_market_basket", (s: SparkSession, d: String) => {
      val baskets = t(s, d, "lineitem")
        .join(t(s, d, "part"), col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey").as("ok"), col("p_brand").as("brand"))
        .distinct()
      val totals = baskets.agg(count_distinct(col("ok")).as("n_orders"))
      val items = baskets.groupBy("brand").agg(count(lit(1)).as("n_item"))
      val pairs = baskets.as("a")
        .join(baskets.as("b"),
          col("a.ok") === col("b.ok") && col("a.brand") < col("b.brand"))
        .groupBy(col("a.brand").as("brand_a"), col("b.brand").as("brand_b"))
        .agg(count(lit(1)).as("n_pair"))
        .filter(col("n_pair") >= 20)
      pairs
        .join(broadcast(items.select(col("brand").as("brand_a"),
          col("n_item").as("n_a"))), "brand_a")
        .join(broadcast(items.select(col("brand").as("brand_b"),
          col("n_item").as("n_b"))), "brand_b")
        .crossJoin(broadcast(totals))
        .select(col("brand_a"), col("brand_b"), col("n_pair"),
          col("n_a"), col("n_b"),
          (col("n_pair").cast("double") / col("n_a").cast("double"))
            .as("confidence"),
          ((col("n_pair") * col("n_orders")).cast("double")
            / (col("n_a") * col("n_b")).cast("double")).as("lift"))
        .orderBy("brand_a", "brand_b")
    }, Some("""
      WITH baskets AS (SELECT DISTINCT l_orderkey AS ok, p_brand AS brand
        FROM lineitem JOIN part ON l_partkey = p_partkey),
      totals AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_orders
        FROM baskets),
      items AS (SELECT brand, CAST(COUNT(*) AS BIGINT) AS n_item
        FROM baskets GROUP BY 1),
      pairs AS (SELECT a.brand AS brand_a, b.brand AS brand_b,
          CAST(COUNT(*) AS BIGINT) AS n_pair
        FROM baskets a JOIN baskets b
          ON a.ok = b.ok AND a.brand < b.brand
        GROUP BY 1, 2 HAVING COUNT(*) >= 20)
      SELECT brand_a, brand_b, n_pair,
        ia.n_item AS n_a, ib.n_item AS n_b,
        CAST(n_pair AS DOUBLE) / CAST(ia.n_item AS DOUBLE) AS confidence,
        CAST(n_pair * n_orders AS DOUBLE)
          / CAST(ia.n_item * ib.n_item AS DOUBLE) AS lift
      FROM pairs
      JOIN items ia ON ia.brand = brand_a
      JOIN items ib ON ib.brand = brand_b
      CROSS JOIN totals
      ORDER BY brand_a, brand_b""")),

    // Rolling 7-day distinct actives — for every event day, how many
    // users had ≥1 event in the trailing week. Windowed COUNT(DISTINCT)
    // doesn't compose (distinct isn't subtractable), so the scalable
    // form is the interval sweep: merge each user's active days into
    // gap-≤6 segments (one lag/lead window keyed on user), emit +1 at
    // segment start and -1 at segment end + 7, and take a running sum
    // over the day spine. Everything user-keyed is linear; the final
    // cumsum runs on the DAY GRAIN (calendar-sized, metadata at any
    // corpus scale). The oracle cross-checks with the quadratic
    // day×activity range join.
    ("q249_rolling_actives", (s: SparkSession, d: String) => {
      val active = t(s, d, "events")
        .select(col("user_id"),
          datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
            .cast("long").as("dn"))
        .distinct()
      Intervals.rollingActiveCounts(active, "user_id", "dn", 7)
        .withColumnRenamed("active", "active_7d")
        .orderBy("day_num")
    }, Some("""
      WITH active AS (SELECT DISTINCT user_id,
          CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS dn
        FROM events),
      spine AS (SELECT DISTINCT dn AS day_num FROM active)
      SELECT s.day_num,
        CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS active_7d
      FROM spine s JOIN active a
        ON a.dn BETWEEN s.day_num - 6 AND s.day_num
      GROUP BY 1 ORDER BY 1""")),

    // Exponentially decayed engagement score (the decayed-counter
    // ranking primitive: halving weight per day, 20-day horizon) —
    // kept EXACT by dyadic weights: numerator is Σ cents·2^(19-age)
    // in BIGINT, the score one double division by the constant
    // 2^20-1. Computed on the per-(priority, day) AGGREGATE, so the
    // 20-day self-range-join multiplies the calendar-grain relation,
    // never the raw fact table — at 100 TB the join input is still
    // (groups × days) rows.
    ("q250_decayed_engagement", (s: SparkSession, d: String) => {
      val daily = t(s, d, "orders")
        .groupBy(col("o_orderpriority").as("prio"),
          datediff(to_date(col("o_orderdate")), lit("1970-01-01").cast("date"))
            .cast("long").as("dn"))
        .agg(sum((Exact.dec(col("o_totalprice")) * 100).cast("long"))
          .cast("long").as("cents"))
      val a = daily.select(col("prio"), col("dn").as("dna"))
      val b = daily.select(col("prio"), col("dn").as("dnb"), col("cents"))
      a.join(b, Seq("prio"))
        .filter(col("dnb").between(col("dna") - 19, col("dna")))
        .groupBy(col("prio"), col("dna").as("day_num"))
        .agg(sum(expr("cents * shiftleft(CAST(1 AS BIGINT), CAST(19 - (dna - dnb) AS INT))"))
          .cast("long").as("n"))
        .withColumn("score", col("n").cast("double") / lit(1048575.0d))
        .orderBy("prio", "day_num")
    }, Some("""
      WITH daily AS (SELECT o_orderpriority AS prio,
          CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS dn,
          CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
            AS BIGINT) AS cents
        FROM orders GROUP BY 1, 2)
      SELECT a.prio, a.dn AS day_num,
        CAST(SUM(b.cents
          * (CAST(1 AS BIGINT) << CAST(19 - (a.dn - b.dn) AS INT)))
          AS BIGINT) AS n,
        CAST(SUM(b.cents
          * (CAST(1 AS BIGINT) << CAST(19 - (a.dn - b.dn) AS INT)))
          AS DOUBLE) / 1048575.0 AS score
      FROM daily a JOIN daily b
        ON a.prio = b.prio AND b.dn BETWEEN a.dn - 19 AND a.dn
      GROUP BY 1, 2 ORDER BY 1, 2""")),

    // Grid-blocked spatial neighbor join — all point pairs within
    // Chebyshev distance 8 on a 1024×1024 integer grid, the bucketed
    // form of a spatial self-join: block points into 8×8 cells, probe
    // only the 3×3 cell neighborhood (cell size ≥ radius makes ±1
    // sufficient), then apply the exact distance filter. The candidate
    // space is density-bounded per cell — never the all-pairs square —
    // and the join is a plain equi-join on cell id, so it shuffles on
    // cell and scales with occupancy, not corpus². Coordinates derive
    // from xxhash64 so the oracle replays them bit-for-bit and runs
    // the quadratic form as the cross-check.
    ("q251_grid_neighbors", (s: SparkSession, d: String) => {
      val cells = t(s, d, "customer")
        .select(col("c_custkey").as("k"),
          pmod(xxhash64(lit(0), col("c_custkey")), lit(1024L)).as("x"),
          pmod(xxhash64(lit(1), col("c_custkey")), lit(1024L)).as("y"))
        .withColumn("cx", expr("x div 8"))
        .withColumn("cy", expr("y div 8"))
      val probe = cells
        .select(col("k").as("ka"), col("x").as("xa"), col("y").as("ya"),
          col("cx"), col("cy"))
        .withColumn("dx", explode(array((-1 to 1).map(i => lit(i.toLong)): _*)))
        .withColumn("dy", explode(array((-1 to 1).map(i => lit(i.toLong)): _*)))
        .select(col("ka"), col("xa"), col("ya"),
          (col("cx") + col("dx")).as("jcx"), (col("cy") + col("dy")).as("jcy"))
      val build = cells
        .select(col("k").as("kb"), col("x").as("xb"), col("y").as("yb"),
          col("cx").as("jcx"), col("cy").as("jcy"))
      probe.join(build, Seq("jcx", "jcy"))
        .filter(col("ka") < col("kb"))
        .withColumn("dist",
          greatest(abs(col("xa") - col("xb")), abs(col("ya") - col("yb"))))
        .filter(col("dist") <= 8)
        .select("ka", "kb", "dist")
        .orderBy("ka", "kb")
    }, Some {
      // Coordinate hashes via the linear chain — see q160's rationale.
      val hashed = xxLongModChain("customer", Seq("c_custkey"),
        "c_custkey", 2)
      s"""
      WITH pts AS (SELECT c_custkey AS k,
          CAST(h0 % 1024 AS BIGINT) AS x,
          CAST(h1 % 1024 AS BIGINT) AS y
        FROM $hashed _p)
      SELECT a.k AS ka, b.k AS kb,
        GREATEST(ABS(a.x - b.x), ABS(a.y - b.y)) AS dist
      FROM pts a JOIN pts b ON a.k < b.k
      WHERE GREATEST(ABS(a.x - b.x), ABS(a.y - b.y)) <= 8
      ORDER BY 1, 2"""
    }),

    // Seasonal-baseline anomaly flags — days whose revenue exceeds
    // 1.5× their day-of-week mean. The threshold is evaluated by
    // integer CROSS-MULTIPLICATION (2·cents·n_dow > 3·Σ_dow), so the
    // flag decision involves no floating point at all; the reported
    // ratio is the single double division at the end. Day-of-week is
    // day_num % 7 (pure arithmetic, engine-independent). The baseline
    // relation is 7 rows — broadcast onto the day-grain aggregate.
    ("q252_seasonal_anomaly", (s: SparkSession, d: String) => {
      val daily = t(s, d, "orders")
        .groupBy(datediff(to_date(col("o_orderdate")),
          lit("1970-01-01").cast("date")).cast("long").as("day_num"))
        .agg(sum((Exact.dec(col("o_totalprice")) * 100).cast("long"))
          .cast("long").as("cents"))
        .withColumn("dow", pmod(col("day_num"), lit(7L)))
      val base = daily.groupBy("dow")
        .agg(sum("cents").cast("long").as("sum_dow"),
          count(lit(1)).as("n_dow"))
      daily.join(broadcast(base), "dow")
        .filter(col("cents") * col("n_dow") * 2 > col("sum_dow") * 3)
        .select(col("day_num"), col("dow"), col("cents"),
          ((col("cents") * col("n_dow")).cast("double")
            / col("sum_dow").cast("double")).as("ratio"))
        .orderBy("day_num")
    }, Some("""
      WITH daily AS (SELECT
          CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
            AS day_num,
          CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
            AS BIGINT) AS cents
        FROM orders GROUP BY 1),
      d2 AS (SELECT day_num, cents, day_num % 7 AS dow FROM daily),
      base AS (SELECT dow, CAST(SUM(cents) AS BIGINT) AS sum_dow,
          CAST(COUNT(*) AS BIGINT) AS n_dow
        FROM d2 GROUP BY 1)
      SELECT day_num, d2.dow, cents,
        CAST(cents * n_dow AS DOUBLE) / CAST(sum_dow AS DOUBLE) AS ratio
      FROM d2 JOIN base ON d2.dow = base.dow
      WHERE cents * n_dow * 2 > sum_dow * 3
      ORDER BY day_num""")),

    // Positional phrase search — the adjacency query over a positional
    // inverted index: posting lists (doc, position) for each phrase
    // term, joined on doc and consecutive position. Each posting list
    // is TERM-FILTERED BEFORE the join (index-probe-sized, not
    // corpus-sized), and the join is a doc+position equi-join — the
    // relational form of "find the phrase" that an inverted index
    // serves at scale.
    ("q253_phrase_search", (s: SparkSession, d: String) => {
      val toks = t(s, d, "documents")
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      val p1 = toks.filter(col("tok") === "hash")
        .select(col("doc_id"), col("pos"))
      val p2 = toks.filter(col("tok") === "value")
        .select(col("doc_id"), (col("pos") - 1).as("pos"))
      p1.join(p2, Seq("doc_id", "pos"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
        .orderBy("doc_id")
    }, Some("""
      WITH toks AS (SELECT doc_id,
          unnest(string_split(text, ' ')) AS tok,
          generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents)
      SELECT a.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
      FROM toks a JOIN toks b
        ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
      WHERE a.tok = 'hash' AND b.tok = 'value'
      GROUP BY 1 ORDER BY 1""")),

    // Multi-touch attribution — for every purchase, the number of view
    // touchpoints by the same user in the preceding 7 days (organic
    // purchases report 0). The touch window is evaluated in
    // MICROSECOND INTEGERS (unix_micros / epoch_us — no interval or
    // float boundary ambiguity), and the purchase×view expansion is a
    // user-keyed equi-join with the range as a post-filter: per-user
    // candidate space, never a global cross product.
    ("q254_touch_attribution", (s: SparkSession, d: String) => {
      val ev = t(s, d, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("pid"), col("user_id"),
          unix_micros(col("ts")).as("pus"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), unix_micros(col("ts")).as("vus"))
      val touches = purchases.join(views, Seq("user_id"))
        .filter(col("vus") <= col("pus")
          && col("pus") - col("vus") <= lit(604800000000L))
        .groupBy("pid").agg(count(lit(1)).as("n_touches"))
      purchases.join(touches, Seq("pid"), "left")
        .select(col("pid").as("event_id"), col("user_id"),
          coalesce(col("n_touches"), lit(0L)).as("n_touches"))
        .orderBy("event_id")
    }, Some("""
      WITH p AS (SELECT event_id AS pid, user_id, epoch_us(ts) AS pus
        FROM events WHERE event_type = 'purchase'),
      v AS (SELECT user_id, epoch_us(ts) AS vus
        FROM events WHERE event_type = 'view'),
      tch AS (SELECT pid, CAST(COUNT(*) AS BIGINT) AS n_touches
        FROM p JOIN v ON p.user_id = v.user_id
          AND v.vus <= p.pus AND p.pus - v.vus <= 604800000000
        GROUP BY 1)
      SELECT pid AS event_id, p.user_id,
        CAST(COALESCE(n_touches, 0) AS BIGINT) AS n_touches
      FROM p LEFT JOIN tch USING (pid)
      ORDER BY 1""")),

    // Sparse dot-product similarity join via an inverted index — the
    // exact-integer core of TF-weighted document similarity: per-doc
    // term counts meet through a posting-list join on the TERM, partial
    // products aggregate per pair, global top-100 by dot product.
    // Hot terms are the scale hazard (a term in half the corpus joins
    // |corpus|²/4 pairs), so terms with document frequency above 25%
    // of the corpus are dropped from the index first — the standard
    // stopword-df cap of AllPairs-style similarity search. Every count
    // and product is BIGINT; top-k is TakeOrderedAndProject, not a
    // full sort.
    ("q255_sparse_dot_topk", (s: SparkSession, d: String) => {
      val tf = t(s, d, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      val nDocs = t(s, d, "documents").agg(count(lit(1)).as("n_docs"))
      val kept = tf
        .join(broadcast(
          tf.groupBy("tok").agg(count(lit(1)).as("df"))
            .crossJoin(broadcast(nDocs))
            .filter(col("df") * 4 <= col("n_docs"))
            .select("tok")), "tok")
      kept.as("a")
        .join(kept.as("b"),
          col("a.tok") === col("b.tok") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
        .agg(sum(col("a.tf") * col("b.tf")).cast("long").as("dot"))
        .orderBy(desc("dot"), col("da"), col("db"))
        .limit(100)
    }, Some("""
      WITH tf AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents),
      cnt AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
        FROM tf GROUP BY 1, 2),
      kept AS (SELECT cnt.* FROM cnt JOIN (
          SELECT tok FROM cnt
          GROUP BY tok
          HAVING COUNT(*) * 4 <= (SELECT COUNT(*) FROM documents)
        ) keep USING (tok))
      SELECT a.doc_id AS da, b.doc_id AS db,
        CAST(SUM(a.tf * b.tf) AS BIGINT) AS dot
      FROM kept a JOIN kept b
        ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY 1, 2
      ORDER BY dot DESC, da, db LIMIT 100""")),

    // Maximum drawdown per order priority — the peak-to-trough
    // analytic over the cumulative daily revenue curve, entirely in
    // integer cents: keyed cumulative sum, keyed running maximum, and
    // the worst (drawdown, day) picked by one more keyed aggregation
    // with a deterministic row_number tiebreak. Three windows over ONE
    // keyed exchange (all share the partition/order), zero floating
    // point until the final ratio.
    ("q256_max_drawdown", (s: SparkSession, d: String) => {
      val w = Window.partitionBy("prio").orderBy("day_num")
      val curve = t(s, d, "orders")
        .groupBy(col("o_orderpriority").as("prio"),
          datediff(to_date(col("o_orderdate")),
            lit("1970-01-01").cast("date")).cast("long").as("day_num"))
        .agg(sum((Exact.dec(col("o_totalprice")) * 100).cast("long"))
          .cast("long").as("cents"))
        .withColumn("cum", sum("cents").over(w).cast("long"))
        .withColumn("peak", max("cum").over(w).cast("long"))
        .withColumn("dd", col("peak") - col("cum"))
      curve
        .withColumn("rn", row_number().over(
          Window.partitionBy("prio").orderBy(desc("dd"), col("day_num"))))
        .filter(col("rn") === 1)
        .select(col("prio"), col("day_num").as("trough_day"),
          col("dd").as("max_drawdown"), col("peak").as("peak_cents"),
          (col("dd").cast("double") / col("peak").cast("double"))
            .as("dd_frac"))
        .orderBy("prio")
    }, Some("""
      WITH daily AS (SELECT o_orderpriority AS prio,
          CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
            AS day_num,
          CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
            AS BIGINT) AS cents
        FROM orders GROUP BY 1, 2),
      curve AS (SELECT prio, day_num,
          CAST(SUM(cents) OVER (PARTITION BY prio ORDER BY day_num)
            AS BIGINT) AS cum
        FROM daily),
      dd AS (SELECT prio, day_num, cum,
          CAST(MAX(cum) OVER (PARTITION BY prio ORDER BY day_num)
            AS BIGINT) AS peak
        FROM curve),
      ranked AS (SELECT prio, day_num, peak, peak - cum AS dd,
          ROW_NUMBER() OVER (PARTITION BY prio
            ORDER BY peak - cum DESC, day_num) AS rn
        FROM dd)
      SELECT prio, day_num AS trough_day, dd AS max_drawdown,
        peak AS peak_cents,
        CAST(dd AS DOUBLE) / CAST(peak AS DOUBLE) AS dd_frac
      FROM ranked WHERE rn = 1
      ORDER BY prio"""))
  ) ++ roundSixMore

  private lazy val roundSixMore: Seq[(String, Q, Option[String])] = Seq(
    // Quota-constrained top-k — global top 40 orders by price, but at
    // most 3 per customer (the diversity-quota form of retrieval
    // ranking, cheaper than MMR re-ranking when the constraint is a
    // hard cap). One customer-keyed window applies the quota, then the
    // global cut is TakeOrderedAndProject — no full sort. Ties break
    // on the order key on both engines, so the cut is deterministic.
    ("q257_quota_topk", (s: SparkSession, d: String) => {
      val wq = Window.partitionBy("o_custkey")
        .orderBy(desc("o_totalprice"), col("o_orderkey"))
      t(s, d, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .withColumn("rn", row_number().over(wq))
        .filter(col("rn") <= 3)
        .orderBy(desc("o_totalprice"), col("o_orderkey"))
        .limit(40)
    }, Some("""
      WITH ranked AS (SELECT o_orderkey, o_custkey, o_totalprice,
          CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
            ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
        FROM orders)
      SELECT * FROM ranked WHERE rn <= 3
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 40""")),

    // State-bucket skew report — operational introspection for the K5
    // bucketed state layout: replay `pmod(xxhash64(key), 64)` (the
    // exact bucket function Streams.upsertBatch uses) over the
    // incoming key column and report per-bucket row counts plus the
    // hot-bucket factor (max·n/total, one double division). This is
    // how you SIZE nBuckets before building GB-scale state: the whole
    // report is one map-side hash + one 64-group aggregate; the
    // one-row total broadcasts back.
    ("q258_bucket_skew_report", (s: SparkSession, d: String) => {
      val sized = t(s, d, "events")
        .groupBy(pmod(xxhash64(col("user_id")), lit(64L)).as("bucket"))
        .agg(count(lit(1)).as("n_rows"))
      sized
        .crossJoin(broadcast(sized.agg(sum("n_rows").cast("long").as("total"))))
        .select(col("bucket"), col("n_rows"),
          ((col("n_rows") * 64).cast("double") / col("total").cast("double"))
            .as("skew_x"))
        .orderBy("bucket")
    }, Some(s"""
      WITH sized AS (SELECT CAST(hu % 64 AS BIGINT) AS bucket,
          CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM ${graft.llm.XxHashOracle.hashLongSubquery("events", Seq.empty,
          "CAST(user_id AS HUGEINT)", "CAST(42 AS HUGEINT)", "hu")} _s
        GROUP BY 1)
      SELECT bucket, n_rows,
        CAST(n_rows * 64 AS DOUBLE)
          / CAST((SELECT SUM(n_rows) FROM sized) AS DOUBLE) AS skew_x
      FROM sized ORDER BY bucket"""))
  ) ++ roundSixPit

  private lazy val roundSixPit: Seq[(String, Q, Option[String])] = Seq(
    // Point-in-time dimension lookup (AsOf.lastRightValue) — enrich
    // each event with the user's order-priority STATE as of the event
    // time, the warehouse "dimension version at fact time" join against
    // an SCD-style version table. The engine side is the linear
    // union + one keyed window sort (value carried forward by
    // last(ignoreNulls)); the oracle cross-checks with the quadratic
    // `join on key and vf <= ts` + arg_max it replaces. Versions are
    // deduped to one per (user, day) first so the carried value is
    // well-defined.
    ("q259_pit_lookup", (s: SparkSession, d: String) => {
      val dim = t(s, d, "orders")
        .select(col("o_custkey").as("user_id"),
          col("o_orderdate").as("ts"),
          col("o_orderpriority").as("state"), col("o_orderkey"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("user_id", "ts").orderBy(desc("o_orderkey"))))
        .filter(col("rn") === 1)
        .select("user_id", "ts", "state")
      val ev = t(s, d, "events")
        .select(col("event_id"), col("user_id"), col("ts"))
      AsOf.lastRightValue(ev, dim, "user_id", "ts", "state", "state_at")
        .filter(col("state_at").isNotNull)
        .select("event_id", "user_id", "state_at")
        .orderBy("event_id")
    }, Some("""
      WITH vers AS (SELECT o_custkey AS k, o_orderdate AS vf,
          o_orderpriority AS state,
          ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderdate
            ORDER BY o_orderkey DESC) AS rn
        FROM orders),
      d AS (SELECT k, vf, state FROM vers WHERE rn = 1)
      SELECT e.event_id, e.user_id, arg_max(d.state, d.vf) AS state_at
      FROM events e JOIN d ON d.k = e.user_id AND d.vf <= e.ts
      GROUP BY 1, 2 ORDER BY 1""")),

    // Percent-of-parent hierarchy report — each nation's share of its
    // region's revenue and each region's share of the total, the BI
    // contribution rollup. All masses are exact integers (revenue in
    // 1e-4 units — discounted revenue carries 4 decimals); each share
    // is ONE double division; parent totals reach children through
    // windows over the nation-grain aggregate (25 rows), so the fact
    // table is touched exactly once.
    ("q260_share_of_parent", (s: SparkSession, d: String) => {
      val rev = t(s, d, "lineitem")
        .join(t(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t(s, d, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(sum((price * (Exact.one - disc) * 10000).cast("long"))
          .cast("long").as("rev_e4"))
      rev
        .withColumn("region_rev",
          sum("rev_e4").over(Window.partitionBy("r_name")).cast("long"))
        .withColumn("total_rev",
          sum("rev_e4").over(Window.partitionBy()).cast("long"))
        .select(col("r_name"), col("n_name"), col("rev_e4"),
          (col("rev_e4").cast("double") / col("region_rev").cast("double"))
            .as("share_of_region"),
          (col("region_rev").cast("double") / col("total_rev").cast("double"))
            .as("region_share_of_total"))
        .orderBy("r_name", "n_name")
    }, Some(s"""
      WITH rev AS (SELECT r_name, n_name,
          CAST(SUM(CAST($oRev * 10000 AS BIGINT)) AS BIGINT) AS rev_e4
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY 1, 2)
      SELECT r_name, n_name, rev_e4,
        CAST(rev_e4 AS DOUBLE)
          / CAST(CAST(SUM(rev_e4) OVER (PARTITION BY r_name) AS BIGINT)
            AS DOUBLE) AS share_of_region,
        CAST(CAST(SUM(rev_e4) OVER (PARTITION BY r_name) AS BIGINT) AS DOUBLE)
          / CAST(CAST(SUM(rev_e4) OVER () AS BIGINT) AS DOUBLE)
          AS region_share_of_total
      FROM rev ORDER BY r_name, n_name""")),

    // Multi-level fallback dimension join — resolve each part's
    // reference price against the most specific rule that exists:
    // (brand, size) average when the group is dense enough (≥8 parts),
    // else the brand average, else the global average. The relational
    // form of hierarchical default lookup (price books, rate cards,
    // config cascades): two LEFT joins + a one-row cross join, every
    // rule table aggregate-sized and BROADCAST, level decided by
    // COALESCE order. Each average is one double division of exact
    // integer (cents, count) pairs, pre-divided per rule so the output
    // is deterministic.
    ("q261_fallback_join", (s: SparkSession, d: String) => {
      val part = t(s, d, "part")
        .withColumn("cents", (Exact.dec(col("p_retailprice")) * 100).cast("long"))
      val r1 = part.groupBy(col("p_brand").as("b1"), col("p_size").as("s1"))
        .agg(sum("cents").cast("long").as("c1"), count(lit(1)).as("n1"))
        .filter(col("n1") >= 8)
        .withColumn("ref1", col("c1").cast("double") / col("n1").cast("double"))
        .select("b1", "s1", "ref1")
      val r2 = part.groupBy(col("p_brand").as("b2"))
        .agg(sum("cents").cast("long").as("c2"), count(lit(1)).as("n2"))
        .withColumn("ref2", col("c2").cast("double") / col("n2").cast("double"))
        .select("b2", "ref2")
      val r3 = part.agg(sum("cents").cast("long").as("c3"),
          count(lit(1)).as("n3"))
        .withColumn("ref3", col("c3").cast("double") / col("n3").cast("double"))
        .select("ref3")
      part.select("p_partkey", "p_brand", "p_size")
        .join(broadcast(r1),
          col("p_brand") === col("b1") && col("p_size") === col("s1"), "left")
        .join(broadcast(r2), col("p_brand") === col("b2"), "left")
        .crossJoin(broadcast(r3))
        .select(col("p_partkey"),
          when(col("ref1").isNotNull, 1)
            .when(col("ref2").isNotNull, 2).otherwise(3).as("level"),
          coalesce(col("ref1"), col("ref2"), col("ref3")).as("ref_cents"))
        .orderBy("p_partkey")
    }, Some("""
      WITH p AS (SELECT p_partkey, p_brand, p_size,
          CAST(CAST(p_retailprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        FROM part),
      r1 AS (SELECT p_brand AS b1, p_size AS s1,
          CAST(SUM(cents) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS ref1
        FROM p GROUP BY 1, 2 HAVING COUNT(*) >= 8),
      r2 AS (SELECT p_brand AS b2,
          CAST(SUM(cents) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS ref2
        FROM p GROUP BY 1),
      r3 AS (SELECT
          CAST(SUM(cents) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS ref3
        FROM p)
      SELECT p_partkey,
        CAST(CASE WHEN ref1 IS NOT NULL THEN 1
          WHEN ref2 IS NOT NULL THEN 2 ELSE 3 END AS INT) AS level,
        COALESCE(ref1, ref2, ref3) AS ref_cents
      FROM p
      LEFT JOIN r1 ON p_brand = b1 AND p_size = s1
      LEFT JOIN r2 ON p_brand = b2
      CROSS JOIN r3
      ORDER BY p_partkey""")),

    // Per-key interval union — total DISTINCT covered time per user
    // when each event opens a 30-minute session window, with
    // overlapping windows merged (the SLA-coverage / billable-time
    // analytic where double-counting overlap is the classic bug).
    // Merge via the associative running-max sweep: a new segment
    // starts where the interval's start clears every earlier end
    // (prev running max); segment lengths are max(end)−min(start).
    // Two keyed windows + one keyed aggregation, all in MICROSECOND
    // INTEGERS — no interval arithmetic, no self-join.
    ("q262_interval_union", (s: SparkSession, d: String) => {
      val iv = t(s, d, "events")
        .select(col("user_id"), unix_micros(col("ts")).as("st"))
        .withColumn("en", col("st") + lit(1800000000L))
      Intervals.unionPerKey(iv, "user_id", "st", "en")
        .withColumnRenamed("covered", "covered_us")
        .select("user_id", "covered_us", "n_segments")
        .orderBy("user_id")
    }, Some("""
      WITH iv AS (SELECT user_id, epoch_us(ts) AS st,
          epoch_us(ts) + 1800000000 AS en
        FROM events),
      swept AS (SELECT user_id, st, en,
          MAX(en) OVER (PARTITION BY user_id ORDER BY st
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
        FROM iv),
      segs AS (SELECT user_id, st, en,
          CAST(SUM(CASE WHEN prev_max IS NULL OR st > prev_max
            THEN 1 ELSE 0 END) OVER (PARTITION BY user_id ORDER BY st)
            AS BIGINT) AS seg
        FROM swept)
      SELECT user_id,
        CAST(SUM(len) AS BIGINT) AS covered_us,
        CAST(COUNT(*) AS BIGINT) AS n_segments
      FROM (SELECT user_id, seg, MAX(en) - MIN(st) AS len
            FROM segs GROUP BY 1, 2)
      GROUP BY 1 ORDER BY 1""")),

    // User-journey trigrams — frequency of every 3-step event-type
    // path, the sequence-mining extension of q173's Markov bigrams:
    // per-user orderings come from ONE keyed window (two lead()s over
    // the same sort — no self-joins on consecutive positions), then a
    // path-grain count. The (ts, event_id) sort key makes same-instant
    // events deterministic on both engines.
    ("q263_journey_trigrams", (s: SparkSession, d: String) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      t(s, d, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("e1"))
        .withColumn("e2", lead("e1", 1).over(w))
        .withColumn("e3", lead("e1", 2).over(w))
        .filter(col("e3").isNotNull)
        .groupBy(concat_ws(">", col("e1"), col("e2"), col("e3")).as("path"))
        .agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), col("path"))
    }, Some("""
      WITH seq AS (SELECT user_id, event_type AS e1,
          LEAD(event_type, 1) OVER w AS e2,
          LEAD(event_type, 2) OVER w AS e3
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      SELECT e1 || '>' || e2 || '>' || e3 AS path,
        CAST(COUNT(*) AS BIGINT) AS n
      FROM seq WHERE e3 IS NOT NULL
      GROUP BY 1 ORDER BY n DESC, path""")),

    // Accumulating-snapshot fact build — collapse each order's
    // lifecycle into one milestone row (placed → first ship → last
    // ship, line count, span), the Kimball accumulating-snapshot
    // pattern that turns an event-grain fact into a process-grain
    // table. One keyed aggregation over lineitem + a broadcast-scale
    // join back to orders; span arithmetic stays in integer days.
    ("q264_accumulating_snapshot", (s: SparkSession, d: String) => {
      val lines = t(s, d, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_lines"),
          min(to_date(col("l_shipdate"))).as("first_ship"),
          max(to_date(col("l_shipdate"))).as("last_ship"))
      t(s, d, "orders")
        .join(lines, col("o_orderkey") === col("l_orderkey"))
        .filter(col("n_lines") >= 6)
        .select(col("o_orderkey"), to_date(col("o_orderdate")).as("placed"),
          col("first_ship"), col("last_ship"), col("n_lines"),
          datediff(col("last_ship"), to_date(col("o_orderdate")))
            .cast("long").as("span_days"))
        .orderBy("o_orderkey")
    }, Some("""
      WITH lines AS (SELECT l_orderkey,
          CAST(COUNT(*) AS BIGINT) AS n_lines,
          MIN(CAST(l_shipdate AS DATE)) AS first_ship,
          MAX(CAST(l_shipdate AS DATE)) AS last_ship
        FROM lineitem GROUP BY 1)
      SELECT o_orderkey, CAST(o_orderdate AS DATE) AS placed,
        first_ship, last_ship, n_lines,
        CAST(last_ship - CAST(o_orderdate AS DATE) AS BIGINT) AS span_days
      FROM orders JOIN lines ON o_orderkey = l_orderkey
      WHERE n_lines >= 6
      ORDER BY o_orderkey""")),

    // Semi-additive aggregation — closing balance per quarter: the
    // LAST order value per customer per quarter (a pick, additive over
    // accounts but NOT over time), then summed across customers. The
    // measure class (balances, inventory levels, headcount) that
    // breaks naive rollups; the engine form is one keyed
    // row_number-pick + one aggregation, with the (orderdate,
    // orderkey) sort key making same-day closings deterministic.
    // Balances stay in integer cents.
    ("q265_semiadditive_closing", (s: SparkSession, d: String) => {
      val w = Window.partitionBy("o_custkey", "q")
        .orderBy(desc("o_orderdate"), desc("o_orderkey"))
      t(s, d, "orders")
        .withColumn("q", concat(year(col("o_orderdate")),
          lit("Q"), quarter(col("o_orderdate"))))
        .withColumn("cents",
          (Exact.dec(col("o_totalprice")) * 100).cast("long"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .groupBy("q")
        .agg(sum("cents").cast("long").as("closing_cents"),
          count(lit(1)).as("n_accounts"))
        .orderBy("q")
    }, Some("""
      WITH ranked AS (SELECT
          CAST(EXTRACT(year FROM o_orderdate) AS VARCHAR) || 'Q' ||
            CAST(EXTRACT(quarter FROM o_orderdate) AS VARCHAR) AS q,
          CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
          ROW_NUMBER() OVER (PARTITION BY o_custkey,
            EXTRACT(year FROM o_orderdate), EXTRACT(quarter FROM o_orderdate)
            ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        FROM orders)
      SELECT q, CAST(SUM(cents) AS BIGINT) AS closing_cents,
        CAST(COUNT(*) AS BIGINT) AS n_accounts
      FROM ranked WHERE rn = 1
      GROUP BY 1 ORDER BY 1""")),

    // Bipartite two-hop neighborhood — for each customer, how many
    // OTHER customers bought at least one of the same parts (the
    // friends-of-friends projection of the customer—part graph).
    // The scale hazard is hub vertices: a part bought by half the
    // customers contributes |customers|²/4 pairs, so parts above 64
    // distinct buyers are EXCLUDED from the projection first (the
    // hub-cap discipline, same as q255's document-frequency cap — at
    // 100 TB you'd route hubs through a sketch instead). The join is
    // part-keyed, candidate space bounded by cap² per part.
    ("q266_two_hop_neighbors", (s: SparkSession, d: String) => {
      val edges = t(s, d, "lineitem")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("c"), col("l_partkey").as("pk"))
        .distinct()
      val ok = edges.groupBy("pk").agg(count(lit(1)).as("deg"))
        .filter(col("deg") <= 64).select("pk")
      val kept = edges.join(broadcast(ok), Seq("pk"))
      kept.as("a").join(kept.as("b"),
          col("a.pk") === col("b.pk") && col("a.c") =!= col("b.c"))
        .select(col("a.c").as("c"), col("b.c").as("peer"))
        .distinct()
        .groupBy("c").agg(count(lit(1)).as("n_two_hop"))
        .orderBy("c")
    }, Some("""
      WITH edges AS (SELECT DISTINCT o_custkey AS c, l_partkey AS pk
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      ok AS (SELECT pk FROM edges GROUP BY pk HAVING COUNT(*) <= 64),
      kept AS (SELECT edges.* FROM edges JOIN ok USING (pk)),
      pairs AS (SELECT DISTINCT a.c AS c, b.c AS peer
        FROM kept a JOIN kept b ON a.pk = b.pk AND a.c <> b.c)
      SELECT c, CAST(COUNT(*) AS BIGINT) AS n_two_hop
      FROM pairs GROUP BY 1 ORDER BY 1""")),

    // Pro-rata allocation with exact reconciliation — spread each
    // order's total across its line items proportional to extended
    // price, in integer cents, with the Hamilton largest-remainder
    // rule applied PER ORDER via windows (floor everyone, hand the
    // leftover cents to the largest fractional remainders, ties by
    // line number). The finance allocation op where naive rounding
    // leaves orders off by a cent; here the in-query audit proves
    // every order reconciles exactly. No driver loop — the remainder
    // rank is one keyed window.
    ("q267_prorata_allocation", (s: SparkSession, d: String) => {
      val li = t(s, d, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_linenumber").as("ln"),
          (Exact.dec(col("l_extendedprice")) * 100).cast("long").as("w"))
      val orders = t(s, d, "orders")
        .select(col("o_orderkey").as("ok"),
          (Exact.dec(col("o_totalprice")) * 100).cast("long").as("total"))
      val wsum = Window.partitionBy("ok")
      val base = li.join(orders, Seq("ok"))
        .withColumn("wtot", sum("w").over(wsum).cast("long"))
        .withColumn("floor_c", expr("(total * w) div wtot"))
        .withColumn("rem", col("total") * col("w") % col("wtot"))
        .withColumn("short",
          (col("total") - sum(expr("(total * w) div wtot")).over(wsum))
            .cast("long"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("ok").orderBy(desc("rem"), col("ln"))))
        .withColumn("alloc_c",
          col("floor_c") + when(col("rk") <= col("short"), 1L).otherwise(0L))
      base.groupBy("ok")
        .agg(count(lit(1)).as("n_lines"),
          sum("alloc_c").cast("long").as("alloc_sum"),
          max("total").as("total_cents"))
        .withColumn("reconciled", col("alloc_sum") === col("total_cents"))
        .filter(col("n_lines") >= 6)
        .orderBy("ok")
    }, Some("""
      WITH li AS (SELECT l_orderkey AS ok, l_linenumber AS ln,
          CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS w
        FROM lineitem),
      o AS (SELECT o_orderkey AS ok,
          CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS total
        FROM orders),
      base AS (SELECT ok, ln, w, total,
          CAST(SUM(w) OVER (PARTITION BY ok) AS BIGINT) AS wtot
        FROM li JOIN o USING (ok)),
      fl AS (SELECT ok, ln, total,
          (total * w) // wtot AS floor_c,
          (total * w) % wtot AS rem
        FROM base),
      ranked AS (SELECT ok, ln, total, floor_c,
          CAST(total - SUM(floor_c) OVER (PARTITION BY ok) AS BIGINT)
            AS short,
          ROW_NUMBER() OVER (PARTITION BY ok ORDER BY rem DESC, ln) AS rk
        FROM fl),
      alloc AS (SELECT ok, total,
          floor_c + CASE WHEN rk <= short THEN 1 ELSE 0 END AS alloc_c
        FROM ranked)
      SELECT ok, CAST(COUNT(*) AS BIGINT) AS n_lines,
        CAST(SUM(alloc_c) AS BIGINT) AS alloc_sum,
        CAST(MAX(total) AS BIGINT) AS total_cents,
        CAST(SUM(alloc_c) AS BIGINT) = CAST(MAX(total) AS BIGINT)
          AS reconciled
      FROM alloc GROUP BY ok
      HAVING COUNT(*) >= 6
      ORDER BY ok""")),

    // Sessionized bounce rate — gap-based (30-minute) sessionization
    // via the lag-gap cumulative sum, then the share of single-event
    // sessions per day: the product-analytics KPI whose scalable form
    // is the same keyed sweep as q262 (one lag window + one keyed
    // cumsum, never a self-join). Counts BIGINT; the rate is one
    // double division.
    ("q268_bounce_rate", (s: SparkSession, d: String) => {
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      val sess = t(s, d, "events")
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
        .withColumn("prev", lag("us", 1).over(w))
        .withColumn("new_s",
          (col("prev").isNull || col("us") - col("prev") > lit(1800000000L))
            .cast("long"))
        .withColumn("seg", sum("new_s").over(w))
        .groupBy("user_id", "seg")
        .agg(count(lit(1)).as("n_ev"),
          min(expr("us div 86400000000")).as("day_num"))
      sess.groupBy("day_num")
        .agg(count(lit(1)).as("n_sessions"),
          count(when(col("n_ev") === 1, 1)).as("n_bounces"))
        .withColumn("bounce_rate",
          col("n_bounces").cast("double") / col("n_sessions").cast("double"))
        .orderBy("day_num")
    }, Some("""
      WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS us
        FROM events),
      swept AS (SELECT user_id, event_id, us,
          LAG(us, 1) OVER (PARTITION BY user_id ORDER BY us, event_id)
            AS prev
        FROM ev),
      segs AS (SELECT user_id, us,
          CAST(SUM(CASE WHEN prev IS NULL OR us - prev > 1800000000
            THEN 1 ELSE 0 END) OVER (PARTITION BY user_id
              ORDER BY us, event_id) AS BIGINT) AS seg
        FROM swept),
      sess AS (SELECT user_id, seg, CAST(COUNT(*) AS BIGINT) AS n_ev,
          CAST(MIN(us // 86400000000) AS BIGINT) AS day_num
        FROM segs GROUP BY 1, 2)
      SELECT day_num, CAST(COUNT(*) AS BIGINT) AS n_sessions,
        CAST(COUNT(*) FILTER (WHERE n_ev = 1) AS BIGINT) AS n_bounces,
        CAST(COUNT(*) FILTER (WHERE n_ev = 1) AS DOUBLE)
          / CAST(COUNT(*) AS DOUBLE) AS bounce_rate
      FROM sess GROUP BY 1 ORDER BY 1""")),

    // Conversion-latency histogram — hours from each view to the
    // user's NEXT purchase, bucketed. The latency join is the linear
    // forward as-of (union + one keyed window, q246's machinery), not
    // the quadratic min-future join the oracle replays; bucketing is
    // integer microsecond arithmetic end to end.
    ("q269_conversion_latency", (s: SparkSession, d: String) => {
      val ev = t(s, d, "events")
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"))
      AsOf.firstRightTs(views, purchases, "user_id", "ts", "np")
        .filter(col("np").isNotNull)
        .groupBy(expr("(unix_micros(np) - unix_micros(ts)) div 3600000000")
          .as("hours"))
        .agg(count(lit(1)).as("n_views"))
        .filter(col("hours") <= 72)
        .orderBy("hours")
    }, Some("""
      WITH lat AS (SELECT v.event_id,
          (epoch_us(MIN(p.ts)) - epoch_us(v.ts)) // 3600000000 AS hours
        FROM events v JOIN events p
          ON v.user_id = p.user_id AND p.ts >= v.ts
         AND p.event_type = 'purchase'
        WHERE v.event_type = 'view'
        GROUP BY v.event_id, v.ts)
      SELECT hours, CAST(COUNT(*) AS BIGINT) AS n_views
      FROM lat WHERE hours <= 72
      GROUP BY 1 ORDER BY 1""")),

    // Rolling median baseline — the robust alternative to the moving
    // average: median of the trailing 15 days of daily revenue, via a
    // BOUNDED frame collect_list + sort_array + lower-median pick (an
    // exact integer pick, no percentile interpolation). The frame
    // array is ≤15 elements — constant memory per row at any scale —
    // and spike days are flagged by integer cross-multiplication
    // (cents > 2·median), no floats anywhere.
    ("q270_rolling_median", (s: SparkSession, d: String) => {
      val w = Window.orderBy("day_num").rowsBetween(-14, 0)
      t(s, d, "orders")
        .groupBy(datediff(to_date(col("o_orderdate")),
          lit("1970-01-01").cast("date")).cast("long").as("day_num"))
        .agg(sum((Exact.dec(col("o_totalprice")) * 100).cast("long"))
          .cast("long").as("cents"))
        .withColumn("arr", sort_array(collect_list("cents").over(w)))
        .withColumn("med15",
          expr("element_at(arr, CAST((size(arr) + 1) div 2 AS INT))")
            .cast("long"))
        .select(col("day_num"), col("cents"), col("med15"),
          (col("cents") > col("med15") * 2).as("is_spike"))
        .orderBy("day_num")
    }, Some("""
      WITH daily AS (SELECT
          CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
            AS day_num,
          CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
            AS BIGINT) AS cents
        FROM orders GROUP BY 1),
      rolled AS (SELECT day_num, cents,
          list_sort(list(cents) OVER (ORDER BY day_num
            ROWS BETWEEN 14 PRECEDING AND CURRENT ROW)) AS arr
        FROM daily)
      SELECT day_num, cents,
        CAST(arr[CAST((len(arr) + 1) // 2 AS INT)] AS BIGINT) AS med15,
        cents > 2 * arr[CAST((len(arr) + 1) // 2 AS INT)] AS is_spike
      FROM rolled ORDER BY day_num""")),

    // Interval INTERSECTION of two session sets per key — time where a
    // user had BOTH a view-session and a click-session open (the
    // calendar-overlap / concurrent-billing analytic). The sweep
    // generalizes q262's union: every window emits ±1 boundary deltas
    // tagged by set, one keyed sort orders all boundaries, two
    // running sums track each set's open depth, and the span to the
    // next boundary counts when both depths are positive. Same-position
    // boundaries are harmless under any tie order (their spans are
    // zero-length), but the (pos, da, db) sort key pins one order on
    // both engines anyway. Microsecond integers; linear; no self-join.
    ("q271_interval_intersect", (s: SparkSession, d: String) => {
      val ev = t(s, d, "events")
        .filter(col("event_type").isin("view", "click"))
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("st"))
        .withColumn("en", col("st") + lit(1800000000L))
      val bounds = ev.select(col("user_id"), col("st").as("pos"),
          when(col("event_type") === "view", 1L).otherwise(0L).as("da"),
          when(col("event_type") === "click", 1L).otherwise(0L).as("db"))
        .unionByName(ev.select(col("user_id"), col("en").as("pos"),
          when(col("event_type") === "view", -1L).otherwise(0L).as("da"),
          when(col("event_type") === "click", -1L).otherwise(0L).as("db")))
      val w = Window.partitionBy("user_id").orderBy("pos", "da", "db")
      bounds
        .withColumn("depth_a", sum("da").over(w))
        .withColumn("depth_b", sum("db").over(w))
        .withColumn("nxt", lead("pos", 1).over(w))
        .filter(col("nxt").isNotNull
          && col("depth_a") > 0 && col("depth_b") > 0)
        .groupBy("user_id")
        .agg(sum(col("nxt") - col("pos")).cast("long").as("both_open_us"))
        .filter(col("both_open_us") > 0)
        .orderBy("user_id")
    }, Some("""
      WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS st,
          epoch_us(ts) + 1800000000 AS en
        FROM events WHERE event_type IN ('view', 'click')),
      bounds AS (
        SELECT user_id, st AS pos,
          CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS da,
          CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS db
        FROM ev
        UNION ALL
        SELECT user_id, en AS pos,
          CASE WHEN event_type = 'view' THEN -1 ELSE 0 END AS da,
          CASE WHEN event_type = 'click' THEN -1 ELSE 0 END AS db
        FROM ev),
      swept AS (SELECT user_id, pos,
          SUM(da) OVER w AS depth_a, SUM(db) OVER w AS depth_b,
          LEAD(pos, 1) OVER w AS nxt
        FROM bounds
        WINDOW w AS (PARTITION BY user_id ORDER BY pos, da, db))
      SELECT user_id, CAST(SUM(nxt - pos) AS BIGINT) AS both_open_us
      FROM swept
      WHERE nxt IS NOT NULL AND depth_a > 0 AND depth_b > 0
      GROUP BY 1 HAVING SUM(nxt - pos) > 0
      ORDER BY 1""")),

    // Exact Gini coefficient of customer revenue concentration — the
    // inequality metric as pure integer algebra: rank customers by
    // revenue with the TWO-LEVEL global row number (offsets broadcast,
    // the corpus-scale form of a global sort-rank — Layout
    // .globalRowNumber), accumulate Σ rank·cents in BIGINT, and close
    // with G = ((n+1)·B − 2·Σ_desc) / (n·B): one double division.
    ("q272_gini_concentration", (s: SparkSession, d: String) => {
      val cust = t(s, d, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum((Exact.dec(col("o_totalprice")) * 100).cast("long"))
          .cast("long").as("sz"))
      Layout.globalRowNumber(cust, "sz", "o_custkey")
        .agg(count(lit(1)).as("n"),
          sum("sz").cast("long").as("total_cents"),
          sum(col("rn") * col("sz")).cast("long").as("a_desc"))
        .select(col("n"), col("total_cents"),
          (((col("n") + 1) * col("total_cents") - col("a_desc") * 2)
            .cast("double")
            / (col("n") * col("total_cents")).cast("double")).as("gini"))
    }, Some("""
      WITH cust AS (SELECT o_custkey AS k,
          CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
            AS BIGINT) AS sz
        FROM orders GROUP BY 1),
      ranked AS (SELECT sz,
          CAST(ROW_NUMBER() OVER (ORDER BY sz DESC, k) AS BIGINT) AS rn
        FROM cust)
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(sz) AS BIGINT) AS total_cents,
        CAST((COUNT(*) + 1) * SUM(sz) - 2 * SUM(rn * sz) AS DOUBLE)
          / CAST(COUNT(*) * SUM(sz) AS DOUBLE) AS gini
      FROM ranked""")),

    // Embedding introspection — per-vector sparsity and peak-dimension
    // stats via array higher-order functions (filter/array_max/
    // array_position), entirely codegen'd projections over the scan:
    // active-dimension count at a magnitude threshold, the argmax
    // dimension (first occurrence — deterministic under ties), and the
    // peak value itself (a raw stored-float PICK, no arithmetic). The
    // vector column never explodes to rows and never shuffles.
    ("q273_embedding_stats", (s: SparkSession, d: String) => {
      t(s, d, "embeddings")
        .select(col("vec_id"), col("label"),
          size(filter(col("embedding"),
            x => abs(x) > lit(0.25))).cast("long").as("nnz"),
          array_position(col("embedding"), array_max(col("embedding")))
            .cast("long").as("argmax_dim"),
          array_max(col("embedding")).as("max_val"))
        .orderBy("vec_id")
    }, Some("""
      SELECT vec_id, label,
        CAST(len(list_filter(embedding, x -> abs(x) > 0.25)) AS BIGINT)
          AS nnz,
        CAST(list_position(embedding, list_max(embedding)) AS BIGINT)
          AS argmax_dim,
        list_max(embedding) AS max_val
      FROM embeddings ORDER BY vec_id""")),

    // Join-explosion preflight — BEFORE running a fat key join,
    // predict its output size from per-key multiplicities:
    // Σ n_left(k)·n_right(k), and surface the keys that dominate it.
    // The 100 TB discipline this encodes: a join's cost is decided by
    // its hottest keys, and the check is two key-grain aggregates plus
    // one equi-join on the key — nothing fact-sized is joined to
    // anything. Counts and products BIGINT; each key's share is one
    // double division against the broadcast one-row total.
    ("q274_join_preflight", (s: SparkSession, d: String) => {
      val ev = t(s, d, "events")
      val a = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(count(lit(1)).as("n_a"))
      val b = ev.filter(col("event_type") === "click")
        .groupBy("user_id").agg(count(lit(1)).as("n_b"))
      val pred = a.join(b, Seq("user_id"))
        .withColumn("pred_rows", col("n_a") * col("n_b"))
      val total = pred.agg(sum("pred_rows").cast("long").as("total_pred"))
      pred.crossJoin(broadcast(total))
        .select(col("user_id"), col("n_a"), col("n_b"), col("pred_rows"),
          (col("pred_rows").cast("double") / col("total_pred").cast("double"))
            .as("share"))
        .orderBy(desc("pred_rows"), col("user_id"))
        .limit(20)
    }, Some("""
      WITH a AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_a
        FROM events WHERE event_type = 'view' GROUP BY 1),
      b AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_b
        FROM events WHERE event_type = 'click' GROUP BY 1),
      pred AS (SELECT user_id, n_a, n_b, n_a * n_b AS pred_rows
        FROM a JOIN b USING (user_id)),
      total AS (SELECT CAST(SUM(pred_rows) AS BIGINT) AS total_pred
        FROM pred)
      SELECT user_id, n_a, n_b, pred_rows,
        CAST(pred_rows AS DOUBLE) / CAST(total_pred AS DOUBLE) AS share
      FROM pred CROSS JOIN total
      ORDER BY pred_rows DESC, user_id LIMIT 20""")),

    // SQL-defined scalar function (Spark 4 SQL UDF) — the revenue
    // formula packaged as `CREATE TEMPORARY FUNCTION ... RETURNS
    // BIGINT RETURN <expr>` and used inside an aggregate. Unlike a
    // JVM closure UDF this stays a Catalyst expression (inlined at
    // plan time, codegen'd, pushdown-transparent) — the right way to
    // share business formulas across SQL users. The function body
    // keeps the exact-decimal discipline (1e-4 revenue units); the
    // oracle inlines the same expression.
    ("q275_sql_udf", (s: SparkSession, d: String) => {
      t(s, d, "lineitem").createOrReplaceTempView("li_q275")
      s.sql("""
        CREATE OR REPLACE TEMPORARY FUNCTION q275_rev_e4(
            p DOUBLE, disc DOUBLE) RETURNS BIGINT
        RETURN CAST(CAST(p AS DECIMAL(12,2))
          * (CAST(1 AS DECIMAL(3,2)) - CAST(disc AS DECIMAL(4,2)))
          * 10000 AS BIGINT)""")
      s.sql("""
        SELECT l_returnflag,
          CAST(SUM(q275_rev_e4(l_extendedprice, l_discount)) AS BIGINT)
            AS rev_e4,
          CAST(COUNT(*) AS BIGINT) AS n
        FROM li_q275 GROUP BY 1 ORDER BY 1""")
    }, Some(s"""
      SELECT l_returnflag,
        CAST(SUM(CAST($oRev * 10000 AS BIGINT)) AS BIGINT) AS rev_e4,
        CAST(COUNT(*) AS BIGINT) AS n
      FROM lineitem GROUP BY 1 ORDER BY 1""")),

    // Top-N-plus-OTHER reporting rollup — the dashboard pattern: the
    // top 3 brands per region keep their names, everything else folds
    // into an OTHER bucket so totals still reconcile. One keyed window
    // ranks the (region, brand) aggregate (dim-grain, tiny), the
    // relabel is a projection, and the second aggregate collapses the
    // tail — the fact table is scanned once.
    ("q276_topn_other", (s: SparkSession, d: String) => {
      val rev = t(s, d, "lineitem")
        .join(t(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t(s, d, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .join(t(s, d, "part"), col("l_partkey") === col("p_partkey"))
        .groupBy(col("r_name"), col("p_brand"))
        .agg(sum((price * (Exact.one - disc) * 10000).cast("long"))
          .cast("long").as("rev_e4"))
      rev
        .withColumn("rk", row_number().over(Window.partitionBy("r_name")
          .orderBy(desc("rev_e4"), col("p_brand"))))
        .withColumn("bucket",
          when(col("rk") <= 3, col("p_brand")).otherwise(lit("OTHER")))
        .groupBy(col("r_name"), col("bucket"))
        .agg(sum("rev_e4").cast("long").as("rev_e4"),
          count(lit(1)).as("n_brands"))
        .orderBy("r_name", "bucket")
    }, Some(s"""
      WITH rev AS (SELECT r_name, p_brand,
          CAST(SUM(CAST($oRev * 10000 AS BIGINT)) AS BIGINT) AS rev_e4
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        JOIN part ON l_partkey = p_partkey
        GROUP BY 1, 2),
      ranked AS (SELECT r_name, p_brand, rev_e4,
          ROW_NUMBER() OVER (PARTITION BY r_name
            ORDER BY rev_e4 DESC, p_brand) AS rk
        FROM rev)
      SELECT r_name,
        CASE WHEN rk <= 3 THEN p_brand ELSE 'OTHER' END AS bucket,
        CAST(SUM(rev_e4) AS BIGINT) AS rev_e4,
        CAST(COUNT(*) AS BIGINT) AS n_brands
      FROM ranked GROUP BY 1, 2
      ORDER BY 1, 2""")),

    // Partition-completeness audit (backfill planner) — which months
    // of the urgent-order feed are missing days, and how many: build
    // the calendar spine between the feed's own min/max with
    // sequence() (no driver code), anti-join the observed days, roll
    // missing counts up to months. The audit every partitioned
    // ingestion runs before declaring a table queryable; spine and
    // day relations are calendar-grain (metadata-sized at any scale).
    ("q277_backfill_audit", (s: SparkSession, d: String) => {
      val days = t(s, d, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(to_date(col("o_orderdate")).as("day")).distinct()
      val spine = days.agg(min("day").as("lo"), max("day").as("hi"))
        .select(explode(expr("sequence(lo, hi, interval 1 day)")).as("day"))
      spine.join(days, Seq("day"), "left_anti")
        .groupBy(trunc(col("day"), "month").as("month"))
        .agg(count(lit(1)).as("n_missing"),
          min("day").as("first_missing"))
        .orderBy("month")
    }, Some("""
      WITH days AS (SELECT DISTINCT CAST(o_orderdate AS DATE) AS day
        FROM orders WHERE o_orderpriority = '1-URGENT'),
      spine AS (SELECT unnest(generate_series(
          (SELECT MIN(day) FROM days), (SELECT MAX(day) FROM days),
          INTERVAL 1 DAY))::DATE AS day),
      missing AS (SELECT day FROM spine
        WHERE day NOT IN (SELECT day FROM days))
      SELECT date_trunc('month', day)::DATE AS month,
        CAST(COUNT(*) AS BIGINT) AS n_missing,
        MIN(day) AS first_missing
      FROM missing GROUP BY 1 ORDER BY 1""")),

    // Referential-conformance matrix — every foreign-key edge of the
    // star schema audited in one relation: distinct child keys,
    // orphans (anti-join against the parent), and the conformance
    // verdict. Each check is key-grain (distinct child keys, not
    // fact rows) and the parents are dimension-sized — the audit
    // costs one distinct per edge at any fact scale.
    ("q278_fk_conformance", (s: SparkSession, d: String) => {
      def edge(name: String, child: DataFrame, ck: String,
          parent: DataFrame, pk: String): DataFrame = {
        val keys = child.select(col(ck).as("k")).distinct()
        val orphans = keys.join(parent.select(col(pk).as("k")).distinct(),
          Seq("k"), "left_anti")
        keys.agg(count(lit(1)).as("n_child_keys"))
          .crossJoin(orphans.agg(count(lit(1)).as("n_orphans")))
          .select(lit(name).as("relationship"),
            col("n_child_keys"), col("n_orphans"),
            (col("n_orphans") === 0).as("conformant"))
      }
      val li = t(s, d, "lineitem")
      edge("lineitem.orderkey->orders", li, "l_orderkey",
          t(s, d, "orders"), "o_orderkey")
        .unionByName(edge("lineitem.partkey->part", li, "l_partkey",
          t(s, d, "part"), "p_partkey"))
        .unionByName(edge("lineitem.suppkey->supplier", li, "l_suppkey",
          t(s, d, "supplier"), "s_suppkey"))
        .unionByName(edge("orders.custkey->customer", t(s, d, "orders"),
          "o_custkey", t(s, d, "customer"), "c_custkey"))
        .unionByName(edge("events.user_id->customer", t(s, d, "events"),
          "user_id", t(s, d, "customer"), "c_custkey"))
        .orderBy("relationship")
    }, Some("""
      WITH checks AS (
        SELECT 'lineitem.orderkey->orders' AS relationship,
          (SELECT COUNT(DISTINCT l_orderkey) FROM lineitem) AS n_child_keys,
          (SELECT COUNT(*) FROM (SELECT DISTINCT l_orderkey AS k
            FROM lineitem) c WHERE k NOT IN
            (SELECT o_orderkey FROM orders)) AS n_orphans
        UNION ALL
        SELECT 'lineitem.partkey->part',
          (SELECT COUNT(DISTINCT l_partkey) FROM lineitem),
          (SELECT COUNT(*) FROM (SELECT DISTINCT l_partkey AS k
            FROM lineitem) c WHERE k NOT IN
            (SELECT p_partkey FROM part))
        UNION ALL
        SELECT 'lineitem.suppkey->supplier',
          (SELECT COUNT(DISTINCT l_suppkey) FROM lineitem),
          (SELECT COUNT(*) FROM (SELECT DISTINCT l_suppkey AS k
            FROM lineitem) c WHERE k NOT IN
            (SELECT s_suppkey FROM supplier))
        UNION ALL
        SELECT 'orders.custkey->customer',
          (SELECT COUNT(DISTINCT o_custkey) FROM orders),
          (SELECT COUNT(*) FROM (SELECT DISTINCT o_custkey AS k
            FROM orders) c WHERE k NOT IN
            (SELECT c_custkey FROM customer))
        UNION ALL
        SELECT 'events.user_id->customer',
          (SELECT COUNT(DISTINCT user_id) FROM events),
          (SELECT COUNT(*) FROM (SELECT DISTINCT user_id AS k
            FROM events) c WHERE k NOT IN
            (SELECT c_custkey FROM customer)))
      SELECT relationship, CAST(n_child_keys AS BIGINT) AS n_child_keys,
        CAST(n_orphans AS BIGINT) AS n_orphans,
        n_orphans = 0 AS conformant
      FROM checks ORDER BY relationship""")),

    // Revenue bridge (price/volume decomposition) — explain a brand's
    // year-over-year revenue delta as volume effect ((q2-q1)·u1) plus
    // price effect ((u2-u1)·q2), the FP&A waterfall identity. One
    // conditional aggregate per (brand, measure) over a single fact
    // scan — no self-join of years; effects are one double division of
    // exact integers each (cross-products in DECIMAL(38,0)/HUGEINT so
    // the integer part never overflows at any scale).
    ("q279_revenue_bridge", (s: SparkSession, d: String) => {
      val yr = year(col("l_shipdate"))
      val revRow = (price * (Exact.one - disc) * 10000).cast("long")
      val qtyRow = (qty * 100).cast("long")
      t(s, d, "lineitem")
        .filter(yr.isin(1997, 1998))
        .join(t(s, d, "part"), col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(
          sum(when(yr === 1997, revRow).otherwise(lit(0L)))
            .cast("long").as("rev1_e4"),
          sum(when(yr === 1998, revRow).otherwise(lit(0L)))
            .cast("long").as("rev2_e4"),
          sum(when(yr === 1997, qtyRow).otherwise(lit(0L)))
            .cast("long").as("qty1_e2"),
          sum(when(yr === 1998, qtyRow).otherwise(lit(0L)))
            .cast("long").as("qty2_e2"))
        .filter(col("qty1_e2") > 0 && col("qty2_e2") > 0)
        .select(col("p_brand"), col("rev1_e4"), col("rev2_e4"),
          (col("rev2_e4") - col("rev1_e4")).as("delta_rev_e4"),
          ((col("qty2_e2") - col("qty1_e2")).cast("decimal(18,0)")
              * col("rev1_e4").cast("decimal(20,0)")).cast("double")
            .divide(col("qty1_e2").cast("double"))
            .as("volume_effect_e4"),
          (col("rev2_e4").cast("double")
            - (col("rev1_e4").cast("decimal(20,0)")
                * col("qty2_e2").cast("decimal(18,0)")).cast("double")
              / col("qty1_e2").cast("double"))
            .as("price_effect_e4"))
        .orderBy("p_brand")
    }, Some(s"""
      WITH li AS (
        SELECT p_brand, EXTRACT(year FROM l_shipdate) AS yr,
          CAST($oRev * 10000 AS BIGINT) AS rev_e4,
          CAST($oQty * 100 AS BIGINT) AS qty_e2
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE EXTRACT(year FROM l_shipdate) IN (1997, 1998)),
      b AS (SELECT p_brand,
          CAST(SUM(CASE WHEN yr = 1997 THEN rev_e4 ELSE 0 END) AS BIGINT)
            AS rev1_e4,
          CAST(SUM(CASE WHEN yr = 1998 THEN rev_e4 ELSE 0 END) AS BIGINT)
            AS rev2_e4,
          CAST(SUM(CASE WHEN yr = 1997 THEN qty_e2 ELSE 0 END) AS BIGINT)
            AS qty1_e2,
          CAST(SUM(CASE WHEN yr = 1998 THEN qty_e2 ELSE 0 END) AS BIGINT)
            AS qty2_e2
        FROM li GROUP BY 1)
      SELECT p_brand, rev1_e4, rev2_e4,
        rev2_e4 - rev1_e4 AS delta_rev_e4,
        CAST((CAST(qty2_e2 AS HUGEINT) - qty1_e2) * rev1_e4 AS DOUBLE)
          / CAST(qty1_e2 AS DOUBLE) AS volume_effect_e4,
        CAST(rev2_e4 AS DOUBLE)
          - CAST(CAST(rev1_e4 AS HUGEINT) * qty2_e2 AS DOUBLE)
            / CAST(qty1_e2 AS DOUBLE) AS price_effect_e4
      FROM b WHERE qty1_e2 > 0 AND qty2_e2 > 0
      ORDER BY p_brand""")),

    // ABC (Pareto) classification — parts bucketed A/B/C by cumulative
    // revenue share (≤70% / ≤90% / rest). The global prefix sum over
    // "revenue descending" uses the two-level discipline: the coarse key
    // is length(bin(rev_e4)) — an EXACT integer log2 bucket, monotone in
    // revenue, so per-bucket offsets (a window over a ≤63-row relation)
    // plus a KEYED within-bucket cumsum reproduce the global running
    // total without funneling part-grain rows through one task. Class
    // cuts are integer cross-multiplications in DECIMAL(38,0)/HUGEINT —
    // no float thresholds. The oracle replays with the naive global
    // window (its privilege at sf0.01).
    ("q280_abc_classification", (s: SparkSession, d: String) => {
      val rev = t(s, d, "lineitem")
        .groupBy(col("l_partkey"))
        .agg(sum((price * (Exact.one - disc) * 10000).cast("long"))
          .cast("long").as("rev_e4"))
      val bucketed = rev.withColumn("__bkt", length(bin(col("rev_e4"))))
      val offs = bucketed.groupBy("__bkt")
        .agg(sum("rev_e4").as("__bsum"))
        .withColumn("__off", coalesce(
          sum("__bsum").over(Window.orderBy(col("__bkt").desc)
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select(col("__bkt"), col("__off"))
      val total = rev.agg(sum("rev_e4").cast("long").as("total_e4"))
      val cum = bucketed.join(broadcast(offs), Seq("__bkt"))
        .withColumn("cum_e4", col("__off")
          + sum("rev_e4").over(Window.partitionBy("__bkt")
            .orderBy(col("rev_e4").desc, col("l_partkey"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .crossJoin(broadcast(total))
      cum.withColumn("abc_class",
          when(col("cum_e4").cast("decimal(38,0)") * 10
            <= col("total_e4").cast("decimal(38,0)") * 7, "A")
          .when(col("cum_e4").cast("decimal(38,0)") * 10
            <= col("total_e4").cast("decimal(38,0)") * 9, "B")
          .otherwise("C"))
        .groupBy("abc_class")
        .agg(count(lit(1)).as("n_parts"),
          sum("rev_e4").cast("long").as("class_rev_e4"))
        .crossJoin(broadcast(total))
        .select(col("abc_class"), col("n_parts"), col("class_rev_e4"),
          (col("class_rev_e4").cast("double")
            / col("total_e4").cast("double")).as("share"))
        .orderBy("abc_class")
    }, Some(s"""
      WITH rev AS (SELECT l_partkey,
          CAST(SUM(CAST($oRev * 10000 AS BIGINT)) AS BIGINT) AS rev_e4
        FROM lineitem GROUP BY 1),
      tot AS (SELECT CAST(SUM(rev_e4) AS BIGINT) AS total_e4 FROM rev),
      cum AS (SELECT l_partkey, rev_e4,
          CAST(SUM(rev_e4) OVER (ORDER BY rev_e4 DESC, l_partkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS cum_e4
        FROM rev),
      cls AS (SELECT
          CASE WHEN CAST(cum_e4 AS HUGEINT) * 10
                 <= CAST(total_e4 AS HUGEINT) * 7 THEN 'A'
               WHEN CAST(cum_e4 AS HUGEINT) * 10
                 <= CAST(total_e4 AS HUGEINT) * 9 THEN 'B'
               ELSE 'C' END AS abc_class, rev_e4
        FROM cum CROSS JOIN tot)
      SELECT abc_class, CAST(COUNT(*) AS BIGINT) AS n_parts,
        CAST(SUM(rev_e4) AS BIGINT) AS class_rev_e4,
        CAST(SUM(rev_e4) AS DOUBLE)
          / (SELECT CAST(total_e4 AS DOUBLE) FROM tot) AS share
      FROM cls GROUP BY 1 ORDER BY 1""")),

    // Cumulative distinct users per day — the first-touch identity:
    // cumulative COUNT(DISTINCT user) through day D equals the count of
    // users whose FIRST event day is <= D. One per-user min (keyed
    // shuffle), one day-grain count, one running sum over a day-grain
    // relation (~tens of rows — metadata-sized single-partition window,
    // same discipline as q280's offsets). The naive alternative — a
    // distinct-count per expanding window — rescans the corpus once per
    // day and is quadratic at scale.
    ("q281_cumulative_distinct", (s: SparkSession, d: String) => {
      val ev = t(s, d, "events")
      val newUsers = ev.groupBy(col("user_id"))
        .agg(min(to_date(col("ts"))).as("day"))
        .groupBy("day").agg(count(lit(1)).as("new_users"))
      val daily = ev.groupBy(to_date(col("ts")).as("day"))
        .agg(countDistinct("user_id").as("dau"))
      daily.join(newUsers, Seq("day"), "left")
        .withColumn("new_users", coalesce(col("new_users"), lit(0L)))
        .withColumn("cum_users", sum("new_users")
          .over(Window.orderBy("day")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select("day", "dau", "new_users", "cum_users")
        .orderBy("day")
    }, Some("""
      WITH fs AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS day
                  FROM events GROUP BY 1),
      nu AS (SELECT day, COUNT(*) AS new_users FROM fs GROUP BY 1),
      daily AS (SELECT CAST(ts AS DATE) AS day,
                  COUNT(DISTINCT user_id) AS dau
                FROM events GROUP BY 1)
      SELECT daily.day AS day, CAST(dau AS BIGINT) AS dau,
        CAST(COALESCE(new_users, 0) AS BIGINT) AS new_users,
        CAST(SUM(COALESCE(new_users, 0)) OVER (ORDER BY daily.day
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS cum_users
      FROM daily LEFT JOIN nu ON daily.day = nu.day
      ORDER BY daily.day""")),

    // OHLC downsampling — resample the ragged event stream to per-day,
    // per-type bars (open/high/low/close/volume). Open and close are
    // made DETERMINISTIC by total-ordering on (ts, event_id) — min_by /
    // arg_min tie behavior differs across engines, row_number does not.
    // Both window passes and the final aggregate share the (day, type)
    // partitioning: ONE exchange, two sorts, then a partial-aggregable
    // groupBy. High/low/open/close are picked values (no arithmetic, so
    // doubles are exact); volume goes through DECIMAL.
    ("q282_ohlc_bars", (s: SparkSession, d: String) => {
      val e = t(s, d, "events")
        .select(to_date(col("ts")).as("day"), col("event_type"),
          col("ts"), col("event_id"), col("value"))
      val asc = Window.partitionBy("day", "event_type")
        .orderBy(col("ts").asc, col("event_id").asc)
      val desc = Window.partitionBy("day", "event_type")
        .orderBy(col("ts").desc, col("event_id").desc)
      e.withColumn("rn_a", row_number().over(asc))
        .withColumn("rn_d", row_number().over(desc))
        .groupBy("day", "event_type")
        .agg(max(when(col("rn_a") === 1, col("value"))).as("open"),
          max("value").as("high"), min("value").as("low"),
          max(when(col("rn_d") === 1, col("value"))).as("close"),
          Exact.sumD(col("value")).as("volume"),
          count(lit(1)).as("n"))
        .orderBy("day", "event_type")
    }, Some("""
      WITH e AS (SELECT CAST(ts AS DATE) AS day, event_type, value,
          ROW_NUMBER() OVER (PARTITION BY CAST(ts AS DATE), event_type
            ORDER BY ts, event_id) AS rn_a,
          ROW_NUMBER() OVER (PARTITION BY CAST(ts AS DATE), event_type
            ORDER BY ts DESC, event_id DESC) AS rn_d
        FROM events)
      SELECT day, event_type,
        MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
        MAX(value) AS high, MIN(value) AS low,
        MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
        CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS volume,
        COUNT(*) AS n
      FROM e GROUP BY 1, 2 ORDER BY 1, 2""")),

    // Welch's unequal-variance t-test — completes the hypothesis-test
    // family (chi2 q207, KS q244, Mann-Whitney q240, Spearman q215).
    // One conditional aggregate over a single scan gives both groups'
    // exact decimal moments; t and the Welch-Satterthwaite df are a
    // handful of double ops on those exact sums (q71's string-routed
    // decimal->double cast, since the engines' native decimal casts
    // round the last bit differently). No shuffle beyond one 2-group
    // aggregate — the 100 TB form.
    ("q283_welch_ttest", (s: SparkSession, d: String) => {
      def d2(c: Column) = c.cast("string").cast("double")
      val v = Exact.dec(col("value"), 10)
      val m = t(s, d, "events")
        .filter(col("event_type").isin("click", "purchase"))
        .agg(
          sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("n1"),
          sum(when(col("event_type") === "click", v)).as("s1"),
          sum(when(col("event_type") === "click", v * v)).as("ss1"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n2"),
          sum(when(col("event_type") === "purchase", v)).as("s2"),
          sum(when(col("event_type") === "purchase", v * v)).as("ss2"))
      m.select(col("n1"), col("n2"),
          (d2(col("s1")) / col("n1")).as("mean1"),
          (d2(col("s2")) / col("n2")).as("mean2"),
          ((d2(col("ss1")) - d2(col("s1")) * d2(col("s1")) / col("n1")) /
            (col("n1") - 1) / col("n1")).as("se1sq"),
          ((d2(col("ss2")) - d2(col("s2")) * d2(col("s2")) / col("n2")) /
            (col("n2") - 1) / col("n2")).as("se2sq"))
        .select(col("n1"), col("n2"), col("mean1"), col("mean2"),
          ((col("mean1") - col("mean2")) / sqrt(col("se1sq") + col("se2sq")))
            .as("t_stat"),
          (pow(col("se1sq") + col("se2sq"), 2) /
            (pow(col("se1sq"), 2) / (col("n1") - 1) +
             pow(col("se2sq"), 2) / (col("n2") - 1))).as("welch_df"))
    }, Some("""
      WITH m AS (
        SELECT
          CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
            AS BIGINT) AS n1,
          CAST(CAST(SUM(CASE WHEN event_type = 'click'
            THEN CAST(value AS DECIMAL(10,2)) END) AS VARCHAR) AS DOUBLE)
            AS s1,
          CAST(CAST(SUM(CASE WHEN event_type = 'click'
            THEN CAST(value AS DECIMAL(10,2)) * CAST(value AS DECIMAL(10,2))
            END) AS VARCHAR) AS DOUBLE) AS ss1,
          CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
            AS BIGINT) AS n2,
          CAST(CAST(SUM(CASE WHEN event_type = 'purchase'
            THEN CAST(value AS DECIMAL(10,2)) END) AS VARCHAR) AS DOUBLE)
            AS s2,
          CAST(CAST(SUM(CASE WHEN event_type = 'purchase'
            THEN CAST(value AS DECIMAL(10,2)) * CAST(value AS DECIMAL(10,2))
            END) AS VARCHAR) AS DOUBLE) AS ss2
        FROM events WHERE event_type IN ('click', 'purchase')),
      e AS (SELECT n1, n2, s1 / n1 AS mean1, s2 / n2 AS mean2,
          (ss1 - s1 * s1 / n1) / (n1 - 1) / n1 AS se1sq,
          (ss2 - s2 * s2 / n2) / (n2 - 1) / n2 AS se2sq
        FROM m)
      SELECT n1, n2, mean1, mean2,
        (mean1 - mean2) / sqrt(se1sq + se2sq) AS t_stat,
        pow(se1sq + se2sq, 2) /
          (pow(se1sq, 2) / (n1 - 1) + pow(se2sq, 2) / (n2 - 1)) AS welch_df
      FROM e""")),

    // Hash-seeded bootstrap — 32 half-sample replicates of the mean
    // order price. Each order is hashed ONCE (xxhash64(o_orderkey));
    // replicate r's membership is BIT r of that hash — 64 pairwise
    // independent half-sample draws from a single hash evaluation, so
    // the scan does one hash per row (not one per row·replicate: at
    // 100 TB that factor-32 matters, and it also keeps the DuckDB
    // replay inside the driver's compare budget). One scan expands 32×
    // into map-side-combinable per-replicate decimal sums; the output
    // is the full B-row bootstrap distribution (callers take CI
    // percentiles from 32 rows — metadata). Deterministic resampling is
    // what makes a bootstrap auditable at 100 TB: any replicate can be
    // reproduced independently without storing sample membership.
    ("q284_bootstrap_means", (s: SparkSession, d: String) => {
      t(s, d, "orders")
        .select(col("o_orderkey"), Exact.dec(col("o_totalprice"), 12).as("v"),
          xxhash64(col("o_orderkey")).as("h"))
        .withColumn("r", explode(sequence(lit(0L), lit(31L))))
        // (h >> r) & 1: arithmetic shift is bit-exact for r <= 31, and
        // the signed Spark hash shares its low 63 bits with the
        // oracle's unsigned HUGEINT replay
        .filter(expr("(shiftright(h, CAST(r AS INT)) & 1) = 0"))
        .groupBy("r")
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
        .select(col("r"), col("n"),
          (col("sv").cast("string").cast("double") / col("n"))
            .as("mean_price"))
        .orderBy("r")
    }, Some(s"""
      WITH hs AS (SELECT v, hu FROM ${graft.llm.XxHashOracle
          .hashLongSubquery(
            "(SELECT CAST(o_totalprice AS DECIMAL(12,2)) AS v, o_orderkey" +
              " FROM orders)", Seq("v"),
            "CAST(o_orderkey AS HUGEINT)", "CAST(42 AS HUGEINT)",
            "hu")} _hs),
      inc AS (SELECT r, v
        FROM hs CROSS JOIN (SELECT unnest(range(32)) AS r)
        WHERE ((hu >> CAST(r AS INT)) & 1) = 0)
      SELECT CAST(r AS BIGINT) AS r, COUNT(*) AS n,
        CAST(CAST(SUM(v) AS VARCHAR) AS DOUBLE) / COUNT(*) AS mean_price
      FROM inc GROUP BY r ORDER BY r""")),

    // RESTORE TABLE — rollback to an earlier snapshot on the governed
    // copy-on-write catalog (GraftMaintenance.rollback): a DELETE is
    // undone by committing a NEW manifest with v1's content, so history
    // survives (VERSION AS OF 2 still shows the deleted state) and the
    // restore itself is one metadata write — no data file is touched,
    // which is what makes "undo yesterday's bad job" an O(1) operation
    // on a 100 TB table. The oracle recomputes both the pre-restore and
    // the restored relation from the base data.
    ("q288_sql_rollback", (s: SparkSession, d: String) => {
      val tbl = rowLevelTable(s, d, "restore")
      t(s, d, "events").groupBy("user_id")
        .agg(count(lit(1)).as("n"), Exact.sumD(col("value")).as("sv"))
        .createOrReplaceTempView("q288_src")
      s.sql(s"CREATE TABLE $tbl (user_id BIGINT, n BIGINT, sv DOUBLE)")
      s.sql(s"INSERT INTO $tbl SELECT user_id, n, sv FROM q288_src") // v1
      s.sql(s"DELETE FROM $tbl WHERE user_id % 5 = 2")               // v2
      val sf = new java.io.File(d).getName.replace(".", "_")
      graft.sources.v2.rowlevel.GraftMaintenance.rollback(
        "/tmp/graft_rl_wh", Seq("db"), s"restore_$sf", toVersion = 1L) // v3
      s.sql(s"""
        SELECT 'pre_restore' AS snap, user_id, n, sv
        FROM $tbl VERSION AS OF 2
        UNION ALL
        SELECT 'restored' AS snap, user_id, n, sv FROM $tbl""")
        .orderBy("snap", "user_id")
    }, Some("""
      WITH g AS (SELECT user_id, COUNT(*) AS n,
          CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sv
        FROM events GROUP BY 1)
      SELECT 'pre_restore' AS snap, user_id, n, sv FROM g
      WHERE user_id % 5 <> 2
      UNION ALL
      SELECT 'restored' AS snap, user_id, n, sv FROM g
      ORDER BY snap, user_id""")),

    // k-anonymity audit — the governance check before releasing a
    // "de-identified" extract: group by the quasi-identifier tuple
    // (nation, market segment, account-balance band) and report each
    // equivalence class's size plus whether it breaks k=5; any class
    // smaller than k re-identifies its members by those attributes
    // alone. One hash aggregate over the scan — the audit costs the
    // same as any groupBy at 100 TB; suppression (dropping the flagged
    // rows) composes as a semi-join against the failing classes.
    ("q289_k_anonymity", (s: SparkSession, d: String) => {
      t(s, d, "customer")
        .groupBy(col("c_nationkey"), col("c_mktsegment"),
          floor(Exact.dec(col("c_acctbal"), 12) / 1000).cast("long")
            .as("bal_band"))
        .agg(count(lit(1)).as("class_size"))
        .withColumn("k_violation", col("class_size") < 5)
        .orderBy("c_nationkey", "c_mktsegment", "bal_band")
    }, Some("""
      SELECT c_nationkey, c_mktsegment,
        CAST(FLOOR(CAST(c_acctbal AS DECIMAL(12,2)) / 1000) AS BIGINT)
          AS bal_band,
        COUNT(*) AS class_size,
        COUNT(*) < 5 AS k_violation
      FROM customer
      GROUP BY 1, 2, 3
      ORDER BY c_nationkey, c_mktsegment, bal_band""")),

    // Late-arriving dimension handling — the Kimball "inferred member"
    // pattern: facts whose dimension key has not arrived yet (here a
    // simulated 1/16 hash slice of customers is lagging) get a
    // placeholder dim row keyed by the fact's FK, so the fact lands NOW
    // and the attributes backfill when the dim feed catches up (an SCD
    // update, q89/q197's territory). The inferred-member relation is
    // distinct FKs of the unmatched facts — shuffle-light; everything
    // downstream is one inner join against the patched dim with full
    // coverage (proven by the grouped counts reconciling to the fact
    // total). xxhash64 mod a power of two keeps the lag slice
    // DuckDB-replayable.
    ("q290_late_arriving_dim", (s: SparkSession, d: String) => {
      val cust = t(s, d, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      val present = cust
        .filter(pmod(xxhash64(col("c_custkey")), lit(16)) =!= 0)
      val o = t(s, d, "orders")
        .select(col("o_custkey"), Exact.dec(col("o_totalprice"), 12).as("v"))
      val inferred = o.join(present, col("o_custkey") === col("c_custkey"),
          "left_anti")
        .select(col("o_custkey").as("c_custkey")).distinct()
        .withColumn("c_mktsegment", lit("INFERRED"))
      val dim = present.unionByName(inferred)
      o.join(dim, col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("v")).cast("double").as("revenue"),
          countDistinct(col("c_custkey")).as("n_cust"))
        .orderBy("c_mktsegment")
    }, Some(s"""
      WITH h AS (SELECT c_custkey, c_mktsegment, hu % 16 AS slice
        FROM ${graft.llm.XxHashOracle.hashLongSubquery("customer",
          Seq("c_custkey", "c_mktsegment"),
          "CAST(c_custkey AS HUGEINT)", "CAST(42 AS HUGEINT)", "hu")} _h),
      present AS (SELECT c_custkey, c_mktsegment FROM h WHERE slice <> 0),
      inferred AS (SELECT DISTINCT o_custkey AS c_custkey,
          'INFERRED' AS c_mktsegment
        FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM present)),
      dim AS (SELECT * FROM present UNION ALL SELECT * FROM inferred)
      SELECT c_mktsegment, COUNT(*) AS n_orders,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
        COUNT(DISTINCT c_custkey) AS n_cust
      FROM orders JOIN dim ON o_custkey = c_custkey
      GROUP BY 1 ORDER BY c_mktsegment""")),

    // FIFO queue matching — each user's k-th purchase consumes their
    // k-th view (both time-ordered with (ts, event_id) tiebreaks), the
    // queue discipline behind inventory lot matching and first-touch
    // pairing. Two row_number passes sharing the per-user partitioning
    // (one exchange), then an equi-join on (user, rank) — never a
    // greedy per-row scan; purchases whose paired view happens later
    // (queue empty at purchase time) report unmatched.
    ("q291_fifo_matching", (s: SparkSession, d: String) => {
      val e = t(s, d, "events")
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      def ranked(kind: String) = e.filter(col("event_type") === kind)
        .withColumn("rk", row_number().over(Window.partitionBy("user_id")
          .orderBy(col("ts"), col("event_id"))))
      ranked("purchase")
        .select(col("user_id"), col("rk"),
          col("event_id").as("p_id"), col("ts").as("p_ts"))
        .join(ranked("view")
          .select(col("user_id"), col("rk"),
            col("event_id").as("v_id"), col("ts").as("v_ts")),
          Seq("user_id", "rk"), "left")
        .select(col("user_id"), col("rk").cast("long").as("rk"),
          col("p_id"),
          when(col("v_ts") <= col("p_ts"), col("v_id")).as("v_id"),
          (col("v_ts") <= col("p_ts")).as("matched"))
        .orderBy("user_id", "rk")
    }, Some("""
      WITH p AS (SELECT user_id, event_id AS p_id, ts AS p_ts,
          ROW_NUMBER() OVER (PARTITION BY user_id
            ORDER BY ts, event_id) AS rk
        FROM events WHERE event_type = 'purchase'),
      v AS (SELECT user_id, event_id AS v_id, ts AS v_ts,
          ROW_NUMBER() OVER (PARTITION BY user_id
            ORDER BY ts, event_id) AS rk
        FROM events WHERE event_type = 'view')
      SELECT p.user_id, CAST(p.rk AS BIGINT) AS rk, p_id,
        CASE WHEN v_ts <= p_ts THEN v_id END AS v_id,
        v_ts <= p_ts AS matched
      FROM p LEFT JOIN v ON p.user_id = v.user_id AND p.rk = v.rk
      ORDER BY p.user_id, rk""")),

    // First-digit (Benford) audit — the fraud/data-quality screen over
    // a money column: observed first-significant-digit shares in exact
    // basis points against the Benford expectation (hardcoded integer
    // bp constants — no transcendental evaluation at query time, so
    // both engines compare identical literals). The digit is taken from
    // the DECIMAL's canonical string, not floor(log10) — exact at power-
    // of-ten boundaries. One conditional aggregate over the scan.
    ("q293_benford_digits", (s: SparkSession, d: String) => {
      val benford = Seq(1 -> 3010, 2 -> 1760, 3 -> 1249, 4 -> 969,
        5 -> 791, 6 -> 669, 7 -> 579, 8 -> 511, 9 -> 457)
      val bdf = benford.foldLeft(
        when(lit(false), lit(0))) { case (acc, (dg, bp)) =>
          acc.when(col("digit") === dg.toString, bp) }
      val tot = t(s, d, "orders").filter(Exact.dec(col("o_totalprice"), 12) >= 1)
        .agg(count(lit(1)).as("__tot"))
      t(s, d, "orders")
        .filter(Exact.dec(col("o_totalprice"), 12) >= 1)
        .select(substring(Exact.dec(col("o_totalprice"), 12).cast("string"),
          1, 1).as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n"))
        .crossJoin(broadcast(tot))
        .select(col("digit"), col("n"),
          expr("n * 10000 div __tot").as("share_bp"),
          bdf.cast("long").as("benford_bp"))
        .withColumn("dev_bp", abs(col("share_bp") - col("benford_bp")))
        .orderBy("digit")
    }, Some("""
      WITH base AS (SELECT left(CAST(CAST(o_totalprice AS DECIMAL(12,2))
            AS VARCHAR), 1) AS digit
        FROM orders WHERE CAST(o_totalprice AS DECIMAL(12,2)) >= 1),
      tot AS (SELECT COUNT(*) AS t FROM base),
      exp AS (SELECT * FROM (VALUES ('1', 3010), ('2', 1760), ('3', 1249),
          ('4', 969), ('5', 791), ('6', 669), ('7', 579), ('8', 511),
          ('9', 457)) e(digit, benford_bp))
      SELECT base.digit AS digit, COUNT(*) AS n,
        CAST(COUNT(*) * 10000 // t AS BIGINT) AS share_bp,
        CAST(benford_bp AS BIGINT) AS benford_bp,
        CAST(abs(COUNT(*) * 10000 // t - benford_bp) AS BIGINT) AS dev_bp
      FROM base JOIN exp ON base.digit = exp.digit, tot
      GROUP BY base.digit, benford_bp, t
      ORDER BY digit""")),

    // Functional-dependency audit (data profiling's FD check, the step
    // beyond q227's declared constraints): for each candidate X → Y,
    // the number of X-groups, how many carry more than one Y, and the
    // exact g3 repair size — the minimum rows to delete for the FD to
    // hold (Σ per group of rows outside the majority Y). Two nested
    // keyed aggregations per dependency, both map-side combinable;
    // nothing is ever collected or sorted globally. Mixed
    // holds-and-fails candidates keep the audit honest.
    ("q295_fd_audit", (s: SparkSession, d: String) => {
      def fd(df: DataFrame, name: String, lhs: Column, rhs: Column) =
        df.groupBy(lhs.as("l"), rhs.as("r")).agg(count(lit(1)).as("c"))
          .groupBy("l").agg(sum("c").as("tot"), max("c").as("mx"),
            count(lit(1)).as("nr"))
          .agg(count(lit(1)).as("n_groups"),
            count(when(col("nr") > 1, 1)).as("n_violating"),
            sum(col("tot") - col("mx")).cast("long").as("g3_rows"))
          .select(lit(name).as("fd"), col("n_groups"),
            col("n_violating"), col("g3_rows"))
      fd(t(s, d, "orders"), "o_custkey->o_orderpriority",
          col("o_custkey"), col("o_orderpriority"))
        .unionByName(fd(t(s, d, "part"), "p_partkey->p_brand",
          col("p_partkey"), col("p_brand")))
        .unionByName(fd(t(s, d, "part"), "p_brand->p_type",
          col("p_brand"), col("p_type")))
        .unionByName(fd(t(s, d, "customer"), "c_nationkey->c_mktsegment",
          col("c_nationkey"), col("c_mktsegment")))
        .orderBy("fd")
    }, Some("""
      WITH fd1 AS (SELECT o_custkey AS l, o_orderpriority AS r, COUNT(*) AS c
                   FROM orders GROUP BY 1, 2),
      fd2 AS (SELECT p_partkey AS l, p_brand AS r, COUNT(*) AS c
              FROM part GROUP BY 1, 2),
      fd3 AS (SELECT p_brand AS l, p_type AS r, COUNT(*) AS c
              FROM part GROUP BY 1, 2),
      fd4 AS (SELECT c_nationkey AS l, c_mktsegment AS r, COUNT(*) AS c
              FROM customer GROUP BY 1, 2),
      g1 AS (SELECT l, SUM(c) AS tot, MAX(c) AS mx, COUNT(*) AS nr
             FROM fd1 GROUP BY 1),
      g2 AS (SELECT l, SUM(c) AS tot, MAX(c) AS mx, COUNT(*) AS nr
             FROM fd2 GROUP BY 1),
      g3 AS (SELECT l, SUM(c) AS tot, MAX(c) AS mx, COUNT(*) AS nr
             FROM fd3 GROUP BY 1),
      g4 AS (SELECT l, SUM(c) AS tot, MAX(c) AS mx, COUNT(*) AS nr
             FROM fd4 GROUP BY 1),
      u AS (
        SELECT 'o_custkey->o_orderpriority' AS fd, COUNT(*) AS n_groups,
          COUNT(*) FILTER (WHERE nr > 1) AS n_violating,
          CAST(SUM(tot - mx) AS BIGINT) AS g3_rows FROM g1
        UNION ALL
        SELECT 'p_partkey->p_brand', COUNT(*),
          COUNT(*) FILTER (WHERE nr > 1),
          CAST(SUM(tot - mx) AS BIGINT) FROM g2
        UNION ALL
        SELECT 'p_brand->p_type', COUNT(*),
          COUNT(*) FILTER (WHERE nr > 1),
          CAST(SUM(tot - mx) AS BIGINT) FROM g3
        UNION ALL
        SELECT 'c_nationkey->c_mktsegment', COUNT(*),
          COUNT(*) FILTER (WHERE nr > 1),
          CAST(SUM(tot - mx) AS BIGINT) FROM g4)
      SELECT fd, n_groups, n_violating, g3_rows FROM u ORDER BY fd""")),

    // SCD2 interval-integrity audit — the validity-chain contract a
    // slowly-changing dimension must satisfy per key: no overlapping
    // intervals, no coverage gaps, exactly one open (null-to) row.
    // Validity intervals are derived per user from the event sequence
    // (valid_to = next valid_from), then a deterministic 2/16 hash
    // slice of rows is perturbed ±1 hour to PLANT gap and overlap
    // violations the audit must find. One per-key window (ordered lag
    // compare) — partitions bounded by key history length, the shape
    // that holds on a 100 TB dimension.
    ("q296_scd2_interval_audit", (s: SparkSession, d: String) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val iv = t(s, d, "events")
        .select(col("user_id"), col("ts"), col("event_id"))
        .withColumn("valid_from", col("ts"))
        .withColumn("valid_to", lead(col("ts"), 1).over(w))
        .withColumn("slice", pmod(xxhash64(col("event_id")), lit(16)))
        .withColumn("valid_to",
          when(col("slice") === 0, col("valid_to") - expr("INTERVAL 1 HOUR"))
          .when(col("slice") === 1, col("valid_to") + expr("INTERVAL 1 HOUR"))
          .otherwise(col("valid_to")))
      val wa = Window.partitionBy("user_id")
        .orderBy(col("valid_from"), col("event_id"))
      iv.withColumn("prev_to", lag(col("valid_to"), 1).over(wa))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_rows"),
          count(when(col("valid_from") < col("prev_to"), 1)).as("n_overlaps"),
          count(when(col("valid_from") > col("prev_to"), 1)).as("n_gaps"),
          count(when(col("valid_to") < col("valid_from"), 1)).as("n_inverted"),
          count(when(col("valid_to").isNull, 1)).as("n_open"))
        .withColumn("clean", col("n_overlaps") + col("n_gaps")
          + col("n_inverted") === 0 && col("n_open") === 1)
        .orderBy("user_id")
    }, Some(s"""
      WITH iv0 AS (SELECT user_id, ts AS valid_from, event_id,
          lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
            AS valid_to,
          hu % 16 AS slice
        FROM ${graft.llm.XxHashOracle.hashLongSubquery("events",
          Seq("user_id", "ts", "event_id"),
          "CAST(event_id AS HUGEINT)", "CAST(42 AS HUGEINT)", "hu")} _iv),
      iv AS (SELECT user_id, valid_from, event_id,
          CASE WHEN slice = 0 THEN valid_to - INTERVAL 1 HOUR
               WHEN slice = 1 THEN valid_to + INTERVAL 1 HOUR
               ELSE valid_to END AS valid_to
        FROM iv0),
      lagged AS (SELECT *, lag(valid_to) OVER (PARTITION BY user_id
          ORDER BY valid_from, event_id) AS prev_to FROM iv)
      SELECT user_id, COUNT(*) AS n_rows,
        COUNT(*) FILTER (WHERE valid_from < prev_to) AS n_overlaps,
        COUNT(*) FILTER (WHERE valid_from > prev_to) AS n_gaps,
        COUNT(*) FILTER (WHERE valid_to < valid_from) AS n_inverted,
        COUNT(*) FILTER (WHERE valid_to IS NULL) AS n_open,
        COUNT(*) FILTER (WHERE valid_from < prev_to)
          + COUNT(*) FILTER (WHERE valid_from > prev_to)
          + COUNT(*) FILTER (WHERE valid_to < valid_from) = 0
          AND COUNT(*) FILTER (WHERE valid_to IS NULL) = 1 AS clean
      FROM lagged GROUP BY user_id ORDER BY user_id""")),

    // Survival-analysis risk table (the Kaplan-Meier ingredients):
    // time-to-first-purchase per user from their first event, users
    // without a purchase right-censored at the corpus horizon. For each
    // event time: the at-risk count, events, censorings, and the KM
    // factor as an exact integer pair (surv_num/surv_den) — the caller
    // multiplies factors in order; emitting the ingredients keeps every
    // checked value integer. The at-risk count is N minus an EXCLUSIVE
    // prefix sum over duration-grain rows, computed with the q280
    // two-level discipline (exact log2 buckets + broadcast offsets), so
    // user-grain rows never funnel through one window task.
    ("q297_survival_risk_sets", (s: SparkSession, d: String) => {
      val ev = t(s, d, "events")
      val per = ev.groupBy("user_id").agg(min(col("ts")).as("t0"),
        min(when(col("event_type") === "purchase", col("ts"))).as("tp"))
      val mx = ev.agg(max(col("ts")).as("tmax"))
      val durs = per.crossJoin(broadcast(mx))
        .select(
          when(col("tp").isNotNull,
            unix_micros(col("tp")) - unix_micros(col("t0")))
            .otherwise(unix_micros(col("tmax")) - unix_micros(col("t0")))
            .as("dur_us"),
          col("tp").isNotNull.as("ev"))
      val gr = durs.groupBy("dur_us")
        .agg(count(when(col("ev"), 1)).as("d"),
          count(when(!col("ev"), 1)).as("c"))
      val bucketed = gr.withColumn("__bkt", length(bin(col("dur_us"))))
      val offs = bucketed.groupBy("__bkt")
        .agg(sum(col("d") + col("c")).as("__bsum"))
        .withColumn("__off", coalesce(
          sum("__bsum").over(Window.orderBy(col("__bkt").asc)
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select("__bkt", "__off")
      val total = durs.agg(count(lit(1)).as("n"))
      bucketed.join(broadcast(offs), Seq("__bkt"))
        .withColumn("__prev", col("__off") + coalesce(
          sum(col("d") + col("c"))
            .over(Window.partitionBy("__bkt").orderBy("dur_us")
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .crossJoin(broadcast(total))
        .withColumn("n_at_risk", col("n") - col("__prev"))
        .filter(col("d") > 0)
        .select(col("dur_us"), col("n_at_risk"),
          col("d").as("n_events"), col("c").as("n_censored"),
          (col("n_at_risk") - col("d")).as("surv_num"),
          col("n_at_risk").as("surv_den"))
        .orderBy("dur_us")
    }, Some("""
      WITH per AS (SELECT user_id, MIN(ts) AS t0,
          MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS tp
        FROM events GROUP BY 1),
      mx AS (SELECT MAX(ts) AS tmax FROM events),
      durs AS (SELECT
          CASE WHEN tp IS NOT NULL THEN epoch_us(tp) - epoch_us(t0)
               ELSE epoch_us(tmax) - epoch_us(t0) END AS dur_us,
          tp IS NOT NULL AS ev
        FROM per, mx),
      gr AS (SELECT dur_us, COUNT(*) FILTER (WHERE ev) AS d,
          COUNT(*) FILTER (WHERE NOT ev) AS c
        FROM durs GROUP BY 1),
      tot AS (SELECT COUNT(*) AS n FROM durs),
      cum AS (SELECT dur_us, d, c,
          n - COALESCE(CAST(SUM(d + c) OVER (ORDER BY dur_us
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
            0) AS n_at_risk
        FROM gr, tot)
      SELECT dur_us, CAST(n_at_risk AS BIGINT) AS n_at_risk,
        CAST(d AS BIGINT) AS n_events, CAST(c AS BIGINT) AS n_censored,
        CAST(n_at_risk - d AS BIGINT) AS surv_num,
        CAST(n_at_risk AS BIGINT) AS surv_den
      FROM cum WHERE d > 0 ORDER BY dur_us""")),

    // As-of join with a staleness tolerance (pandas merge_asof
    // tolerance= / QuestDB ASOF ... TOLERANCE): each purchase takes the
    // latest prior view of the same user ONLY if it is at most 30
    // minutes old — older matches are discarded, unmatched purchases
    // kept. Same linear union + one keyed window as q18 (never a
    // pairwise range join); the tolerance is a projection after the
    // window. The oracle's quadratic LEFT JOIN + max is its sf0.01
    // privilege.
    ("q299_asof_tolerance", (s: SparkSession, d: String) => {
      val ev = t(s, d, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val views = ev.filter(col("event_type") === "view")
        .select("user_id", "ts")
      AsOf.lastRightTsWithin(purchases, views, "user_id", "ts",
          "30 MINUTE", "last_view_ts")
        .select(col("event_id"), col("user_id"), col("last_view_ts"),
          col("last_view_ts").isNotNull.as("attributed"))
        .orderBy("event_id")
    }, Some("""
      SELECT p.event_id, p.user_id,
        CASE WHEN max(v.ts) >= p.ts - INTERVAL 30 MINUTE
          THEN max(v.ts) END AS last_view_ts,
        COALESCE(max(v.ts) >= p.ts - INTERVAL 30 MINUTE, FALSE)
          AS attributed
      FROM events p LEFT JOIN events v
        ON p.user_id = v.user_id AND v.ts <= p.ts AND v.event_type = 'view'
      WHERE p.event_type = 'purchase'
      GROUP BY p.event_id, p.user_id, p.ts ORDER BY p.event_id""")),

    // Ordered string aggregation (LISTAGG / string_agg) — the report-
    // layer concatenation every warehouse ships. Determinism is the
    // whole game: an unordered collect is partition-order-dependent and
    // can never hash-compare, so the engine sorts the collected array
    // before joining (one keyed aggregate; the per-group array is
    // group-sized, never corpus-sized). The oracle is DuckDB's native
    // string_agg with ORDER BY.
    ("q301_listagg", (s: SparkSession, d: String) => {
      t(s, d, "customer")
        .filter(col("c_custkey") % 100 === 0)
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n"),
          array_join(array_sort(collect_list(col("c_name"))), ",")
            .as("names"))
        .orderBy("c_nationkey")
    }, Some("""
      SELECT c_nationkey, COUNT(*) AS n,
        string_agg(c_name, ',' ORDER BY c_name) AS names
      FROM customer WHERE c_custkey % 100 = 0
      GROUP BY c_nationkey ORDER BY c_nationkey""")),

    // SQL pipe syntax (Spark 4 / GoogleSQL `|>`): the same revenue
    // rollup written as a linear pipeline — FROM |> WHERE |> AGGREGATE
    // ... GROUP BY |> ORDER BY — planned to the identical physical
    // query as the nested form the oracle runs. Surface parity, not a
    // new operator: proves the engine accepts the modern composable
    // dialect.
    ("q302_pipe_syntax", (s: SparkSession, d: String) => {
      s.sql(s"""
        FROM parquet.`$d/lineitem.parquet`
        |> WHERE l_shipdate >= DATE '1997-01-01'
        |> AGGREGATE COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(10,2))) AS DOUBLE)
               AS sum_qty
           GROUP BY l_returnflag, l_linestatus
        |> ORDER BY l_returnflag, l_linestatus""")
    }, Some("""
      SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        CAST(SUM(CAST(l_quantity AS DECIMAL(10,2))) AS DOUBLE) AS sum_qty
      FROM lineitem WHERE l_shipdate >= DATE '1997-01-01'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""")),

    // Fault-tolerant ingestion arithmetic — try_cast / try_divide over
    // a feed with planted poison (a non-numeric string every 7th row, a
    // zero denominator every 5th): bad rows null out instead of killing
    // the job under ANSI mode, and the audit counts them. The oracle
    // states the same semantics with TRY_CAST and an explicit zero
    // guard (DuckDB's double division would yield inf, not null).
    ("q303_try_arithmetic", (s: SparkSession, d: String) => {
      t(s, d, "orders")
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 7 === 0, lit("not_a_number"))
            .otherwise(Exact.dec(col("o_totalprice"), 12).cast("string"))
            .as("raw"),
          when(col("o_orderkey") % 5 === 0, lit(0.0))
            .otherwise(lit(2.0)).as("denom"))
        .select(col("o_orderkey"),
          expr("try_cast(raw AS DOUBLE)").as("parsed"),
          expr("try_divide(try_cast(raw AS DOUBLE), denom)").as("halved"))
        .agg(count(lit(1)).as("n_rows"),
          count(when(col("parsed").isNull, 1)).as("n_unparseable"),
          count(when(col("parsed").isNotNull && col("halved").isNull, 1))
            .as("n_div_zero"),
          sum(col("halved").cast("decimal(13,3)")).cast("double")
            .as("sum_halved"))
    }, Some("""
      WITH f AS (SELECT o_orderkey,
          CASE WHEN o_orderkey % 7 = 0 THEN 'not_a_number'
               ELSE CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR)
          END AS raw,
          CASE WHEN o_orderkey % 5 = 0 THEN 0.0 ELSE 2.0 END AS denom
        FROM orders),
      p AS (SELECT o_orderkey, TRY_CAST(raw AS DOUBLE) AS parsed,
          CASE WHEN denom = 0 THEN NULL
               ELSE TRY_CAST(raw AS DOUBLE) / denom END AS halved
        FROM f)
      SELECT COUNT(*) AS n_rows,
        COUNT(*) FILTER (WHERE parsed IS NULL) AS n_unparseable,
        COUNT(*) FILTER (WHERE parsed IS NOT NULL AND halved IS NULL)
          AS n_div_zero,
        CAST(SUM(CAST(halved AS DECIMAL(13,3))) AS DOUBLE) AS sum_halved
      FROM p""")),

    // GROUPING SETS provenance — grouping() / grouping_id() columns
    // disambiguate "NULL because rolled up" from "NULL in the data",
    // the detail q25 omits. Identical bit-vector semantics on both
    // engines.
    ("q304_grouping_id", (s: SparkSession, d: String) => {
      s.sql(s"""
        SELECT l_returnflag, l_linestatus,
          CAST(grouping(l_returnflag) AS BIGINT) AS g_rf,
          CAST(grouping(l_linestatus) AS BIGINT) AS g_ls,
          CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT) AS gid,
          COUNT(*) AS n
        FROM parquet.`$d/lineitem.parquet`
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
          (l_returnflag), ())
        ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""")
    }, Some("""
      SELECT l_returnflag, l_linestatus,
        CAST(grouping(l_returnflag) AS BIGINT) AS g_rf,
        CAST(grouping(l_linestatus) AS BIGINT) AS g_ls,
        CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        COUNT(*) AS n
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
        (l_returnflag), ())
      ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""")),

    // Capped sessionization — telemetry's two-rule session split: a new
    // session at a >30-minute gap (q24's gaps-and-islands) AND a forced
    // split every 5 events within a gap-session (the event-cap rule
    // that bounds session state). Both rules are windows over ONE
    // per-user partitioning; the cap is integer arithmetic on the
    // within-session row number — no second shuffle, no iteration.
    ("q305_capped_sessionize", (s: SparkSession, d: String) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val capped = t(s, d, "events")
        .select(col("user_id"), col("ts"), col("event_id"))
        .withColumn("new_s", when(lag(col("ts"), 1).over(w).isNull ||
            col("ts") >= lag(col("ts"), 1).over(w) + expr("INTERVAL 30 MINUTE"),
          1L).otherwise(0L))
        .withColumn("sid", sum(col("new_s"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("rn", row_number().over(Window.partitionBy("user_id", "sid")
          .orderBy(col("ts"), col("event_id"))))
        .withColumn("sub", expr("(rn - 1) div 5"))
      capped.groupBy("user_id", "sid", "sub")
        .agg(count(lit(1)).as("n_events"),
          min(col("ts")).as("session_start"), max(col("ts")).as("session_end"))
        .orderBy("user_id", "sid", "sub")
    }, Some("""
      WITH base AS (SELECT user_id, ts, event_id,
          CASE WHEN lag(ts) OVER w IS NULL
               OR ts >= lag(ts) OVER w + INTERVAL 30 MINUTE
            THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      sess AS (SELECT user_id, ts, event_id,
          CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS sid
        FROM base),
      sub AS (SELECT user_id, ts, sid,
          (ROW_NUMBER() OVER (PARTITION BY user_id, sid
            ORDER BY ts, event_id) - 1) // 5 AS sub
        FROM sess)
      SELECT user_id, sid, CAST(sub AS BIGINT) AS sub,
        COUNT(*) AS n_events,
        MIN(ts) AS session_start, MAX(ts) AS session_end
      FROM sub GROUP BY 1, 2, 3 ORDER BY user_id, sid, sub""")),

    // Map-typed column surface — map_from_entries / transform_values /
    // map_filter over a per-user event-type histogram, rendered to a
    // canonical sorted "k:v" string so the relation hash-compares (map
    // iteration order is engine-dependent; the canonical rendering is
    // the portable contract). The oracle computes the same string from
    // the grouped counts directly.
    ("q306_map_functions", (s: SparkSession, d: String) => {
      t(s, d, "events")
        .groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("c"))
        .groupBy("user_id")
        .agg(map_from_entries(array_sort(
          collect_list(struct(col("event_type"), col("c"))))).as("m"))
        .withColumn("fe", map_entries(
          map_filter(transform_values(col("m"), (k, v) => v * 2),
            (k, v) => v >= 10)))
        .select(col("user_id"),
          size(col("m")).cast("long").as("n_types"),
          when(size(col("fe")) > 0, array_join(transform(col("fe"),
            e => concat(e.getField("key"), lit(":"), e.getField("value"))),
            ",")).as("doubled_ge10"))
        .orderBy("user_id")
    }, Some("""
      WITH c AS (SELECT user_id, event_type, COUNT(*) AS c
                 FROM events GROUP BY 1, 2)
      SELECT user_id, COUNT(*) AS n_types,
        string_agg(CASE WHEN c * 2 >= 10
            THEN event_type || ':' || CAST(c * 2 AS VARCHAR) END,
          ',' ORDER BY event_type) AS doubled_ge10
      FROM c GROUP BY user_id ORDER BY user_id""")),

    // Repeat-purchase basket evolution — per customer, each order's
    // part set against the PREVIOUS order's via array set ops
    // (array_intersect / array_except on sorted collect_sets carried by
    // a lag window): repeated vs new part counts per consecutive order
    // pair. One shuffle to order grain, one per-customer window; the
    // per-order arrays are basket-sized, never corpus-sized.
    ("q307_repeat_purchase", (s: SparkSession, d: String) => {
      val baskets = t(s, d, "lineitem")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
        .agg(array_sort(collect_set(col("l_partkey"))).as("parts"))
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      baskets.withColumn("prev", lag(col("parts"), 1).over(w))
        .filter(col("prev").isNotNull)
        .select(col("o_custkey"), col("o_orderkey"),
          size(col("parts")).cast("long").as("n_parts"),
          size(array_intersect(col("parts"), col("prev"))).cast("long")
            .as("n_repeated"),
          size(array_except(col("parts"), col("prev"))).cast("long")
            .as("n_new"))
        .orderBy("o_custkey", "o_orderkey")
    }, Some("""
      WITH baskets AS (SELECT o_custkey, o_orderkey, o_orderdate,
          list_sort(list_distinct(list(l_partkey))) AS parts
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1, 2, 3),
      lagged AS (SELECT o_custkey, o_orderkey, parts,
          lag(parts) OVER (PARTITION BY o_custkey
            ORDER BY o_orderdate, o_orderkey) AS prev
        FROM baskets)
      SELECT o_custkey, o_orderkey,
        CAST(len(parts) AS BIGINT) AS n_parts,
        CAST(len(list_intersect(parts, prev)) AS BIGINT) AS n_repeated,
        CAST(len(list_filter(parts, x -> NOT list_contains(prev, x)))
          AS BIGINT) AS n_new
      FROM lagged WHERE prev IS NOT NULL
      ORDER BY o_custkey, o_orderkey""")),

    // Personalized PageRank over the q94 supplier-customer bipartite
    // graph, teleporting only to the id%50==0 seed suppliers — "rank
    // everything by proximity to THESE nodes". Exact int64 arithmetic
    // end to end (the q94 discipline), so three unrolled rounds in
    // DuckDB reproduce the iterative engine bit-for-bit; seed choice is
    // a pure id predicate, replayable anywhere.
    ("q308_personalized_pagerank", (s: SparkSession, d: String) => {
      val li = t(s, d, "lineitem").select("l_orderkey", "l_suppkey")
      val ord = t(s, d, "orders").select("o_orderkey", "o_custkey")
      // r13 NEGATIVE RESULT (same A/B as q94): checkpointing `sc` to
      // dedup its three evaluations (two union branches + seeds)
      // measured flat wall / flat CPU — the shared-exchange broadcast
      // join re-runs are cheaper than the checkpoint copy. Don't re-try.
      val sc = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .select((col("l_suppkey") * 2).as("src"),
          (col("o_custkey") * 2 + 1).as("dst"))
      val edges = sc.union(sc.select(col("dst").as("src"), col("src").as("dst")))
      val seeds = edges.select(col("src").as("id"))
        .filter(pmod(col("id"), lit(50)) === 0).distinct()
      graft.llm.Components.personalizedPageRankScaled(edges, seeds, iters = 3)
        .orderBy("id")
    }, Some("""
      WITH sc AS (SELECT DISTINCT l_suppkey * 2 AS src, o_custkey * 2 + 1 AS dst
                  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      e AS (SELECT src, dst FROM sc
            UNION ALL SELECT dst, src FROM sc),
      v AS (SELECT DISTINCT src AS id FROM e),
      sv AS (SELECT id, CASE WHEN id % 50 = 0 THEN 1 ELSE 0 END AS is_seed
             FROM v),
      deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
      r0 AS (SELECT id, CAST(is_seed * 1000000 AS BIGINT) AS r FROM sv),
      r1 AS (SELECT sv.id,
          CAST(sv.is_seed * 150000 + (85 * COALESCE(c.s, 0)) // 100
            AS BIGINT) AS r
        FROM sv LEFT JOIN (
          SELECT e.dst AS id, SUM(r.r // deg.deg) AS s
          FROM e JOIN r0 r ON e.src = r.id JOIN deg ON e.src = deg.src
          GROUP BY 1) c ON sv.id = c.id),
      r2 AS (SELECT sv.id,
          CAST(sv.is_seed * 150000 + (85 * COALESCE(c.s, 0)) // 100
            AS BIGINT) AS r
        FROM sv LEFT JOIN (
          SELECT e.dst AS id, SUM(r.r // deg.deg) AS s
          FROM e JOIN r1 r ON e.src = r.id JOIN deg ON e.src = deg.src
          GROUP BY 1) c ON sv.id = c.id),
      r3 AS (SELECT sv.id,
          CAST(sv.is_seed * 150000 + (85 * COALESCE(c.s, 0)) // 100
            AS BIGINT) AS r
        FROM sv LEFT JOIN (
          SELECT e.dst AS id, SUM(r.r // deg.deg) AS s
          FROM e JOIN r2 r ON e.src = r.id JOIN deg ON e.src = deg.src
          GROUP BY 1) c ON sv.id = c.id)
      SELECT id, r FROM r3 ORDER BY id""")),

    // Strict ordered funnel with per-step deadlines — signup, then a
    // view within 24h OF THE SIGNUP, then a purchase within 24h OF THAT
    // VIEW (q142 counts unordered step reach; this is the
    // time-constrained sequential form). Three keyed min-aggregates
    // chained by join — each step's qualifying timestamp is the
    // earliest event after the previous step's, so the whole funnel is
    // deterministic and join-shaped (no per-user event scan loops).
    ("q309_strict_funnel", (s: SparkSession, d: String) => {
      val ev = t(s, d, "events").select("user_id", "event_type", "ts")
      val su = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min("ts").as("t_signup"))
      val vw = ev.filter(col("event_type") === "view")
        .join(su, "user_id")
        .filter(col("ts") > col("t_signup") &&
          col("ts") <= col("t_signup") + expr("INTERVAL 24 HOUR"))
        .groupBy("user_id").agg(min("ts").as("t_view"))
      val pu = ev.filter(col("event_type") === "purchase")
        .join(vw, "user_id")
        .filter(col("ts") > col("t_view") &&
          col("ts") <= col("t_view") + expr("INTERVAL 24 HOUR"))
        .groupBy("user_id").agg(min("ts").as("t_purchase"))
      su.agg(count(lit(1)).as("n_signup"))
        .crossJoin(broadcast(vw.agg(count(lit(1)).as("n_view_24h"))))
        .crossJoin(broadcast(pu.agg(count(lit(1)).as("n_purchase_24h"))))
        .select(col("n_signup"), col("n_view_24h"), col("n_purchase_24h"),
          expr("n_view_24h * 10000 div n_signup").as("step1_bp"),
          expr("n_purchase_24h * 10000 div n_view_24h").as("step2_bp"))
    }, Some("""
      WITH su AS (SELECT user_id, MIN(ts) AS t_signup FROM events
                  WHERE event_type = 'signup' GROUP BY 1),
      vw AS (SELECT e.user_id, MIN(e.ts) AS t_view
             FROM events e JOIN su ON e.user_id = su.user_id
             WHERE e.event_type = 'view' AND e.ts > su.t_signup
               AND e.ts <= su.t_signup + INTERVAL 24 HOUR
             GROUP BY 1),
      pu AS (SELECT e.user_id, MIN(e.ts) AS t_purchase
             FROM events e JOIN vw ON e.user_id = vw.user_id
             WHERE e.event_type = 'purchase' AND e.ts > vw.t_view
               AND e.ts <= vw.t_view + INTERVAL 24 HOUR
             GROUP BY 1)
      SELECT (SELECT COUNT(*) FROM su) AS n_signup,
        (SELECT COUNT(*) FROM vw) AS n_view_24h,
        (SELECT COUNT(*) FROM pu) AS n_purchase_24h,
        (SELECT COUNT(*) FROM vw) * 10000
          // (SELECT COUNT(*) FROM su) AS step1_bp,
        (SELECT COUNT(*) FROM pu) * 10000
          // (SELECT COUNT(*) FROM vw) AS step2_bp""")),

    // Top-k WITH TIES — RANK-based per-group top-3 (q06 is row_number's
    // exactly-k; reports usually want "top 3 including ties", which can
    // return more than k rows and must, deterministically, on both
    // engines). Quantity totals aggregate exactly before ranking.
    ("q310_topk_with_ties", (s: SparkSession, d: String) => {
      val byPart = t(s, d, "lineitem")
        .join(t(s, d, "part"), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_partkey"))
        .agg(sum((qty * 100).cast("long")).as("qty_e2"))
      byPart.withColumn("rk", rank().over(Window.partitionBy("p_brand")
          .orderBy(col("qty_e2").desc)))
        .filter(col("rk") <= 3)
        .select(col("p_brand"), col("p_partkey"),
          col("qty_e2").cast("long").as("qty_e2"),
          col("rk").cast("long").as("rk"))
        .orderBy("p_brand", "rk", "p_partkey")
    }, Some(s"""
      WITH byPart AS (SELECT p_brand, p_partkey,
          CAST(SUM(CAST($oQty * 100 AS BIGINT)) AS BIGINT) AS qty_e2
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY 1, 2),
      ranked AS (SELECT *, RANK() OVER (PARTITION BY p_brand
          ORDER BY qty_e2 DESC) AS rk FROM byPart)
      SELECT p_brand, p_partkey, qty_e2, CAST(rk AS BIGINT) AS rk
      FROM ranked WHERE rk <= 3
      ORDER BY p_brand, rk, p_partkey""")),

    // Calendar dimension generation — the conformed date dim every
    // warehouse derives once and joins everywhere: one row per day
    // between the fact table's own min/max, with ISO weekday/week,
    // quarter, weekend and month-end flags. Calendar-grain at any fact
    // scale (the spine is metadata-sized); every attribute is an exact
    // integer/date function with identical semantics on both engines
    // (ISO dow: Monday=1).
    ("q311_date_dim", (s: SparkSession, d: String) => {
      val bounds = t(s, d, "orders")
        .agg(to_date(min(col("o_orderdate"))).as("lo"),
          to_date(max(col("o_orderdate"))).as("hi"))
      bounds.select(explode(expr("sequence(lo, hi, interval 1 day)"))
          .as("day"))
        .select(col("day"),
          year(col("day")).cast("long").as("yr"),
          quarter(col("day")).cast("long").as("qtr"),
          month(col("day")).cast("long").as("mo"),
          (weekday(col("day")) + 1).cast("long").as("iso_dow"),
          weekofyear(col("day")).cast("long").as("iso_week"),
          (weekday(col("day")) >= 5).as("is_weekend"),
          (col("day") === last_day(col("day"))).as("is_month_end"))
        .orderBy("day")
    }, Some("""
      WITH b AS (SELECT CAST(MIN(o_orderdate) AS DATE) AS lo,
          CAST(MAX(o_orderdate) AS DATE) AS hi FROM orders),
      spine AS (SELECT CAST(unnest(generate_series(lo, hi,
          INTERVAL 1 DAY)) AS DATE) AS day FROM b)
      SELECT day,
        CAST(EXTRACT(year FROM day) AS BIGINT) AS yr,
        CAST(EXTRACT(quarter FROM day) AS BIGINT) AS qtr,
        CAST(EXTRACT(month FROM day) AS BIGINT) AS mo,
        CAST(isodow(day) AS BIGINT) AS iso_dow,
        CAST(EXTRACT(week FROM day) AS BIGINT) AS iso_week,
        isodow(day) >= 6 AS is_weekend,
        day = last_day(day) AS is_month_end
      FROM spine ORDER BY day""")),

    // Grouped MODE with a deterministic tiebreak — the most frequent
    // event type per day, ties resolved alphabetically (an unordered
    // mode() is engine- and partitioning-dependent; the (count DESC,
    // value ASC) total order is the portable contract). Two keyed
    // aggregates sharing the day partitioning plus one argmax window.
    ("q315_group_mode", (s: SparkSession, d: String) => {
      val counts = t(s, d, "events")
        .groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("c"))
      counts.withColumn("rn", row_number()
          .over(Window.partitionBy("day")
            .orderBy(col("c").desc, col("event_type").asc)))
        .filter(col("rn") === 1)
        .select(col("day"), col("event_type").as("modal_type"), col("c"))
        .orderBy("day")
    }, Some("""
      WITH counts AS (SELECT CAST(ts AS DATE) AS day, event_type,
          COUNT(*) AS c
        FROM events GROUP BY 1, 2),
      rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY day
          ORDER BY c DESC, event_type) AS rn FROM counts)
      SELECT day, event_type AS modal_type, c
      FROM rk WHERE rn = 1 ORDER BY day""")),

    // Trigger.AvailableNow incremental batch — the "run the stream as a
    // periodic job" production mode: the first invocation drains what
    // exists and STOPS; files landing later are picked up by the next
    // invocation from the same checkpoint, each file exactly once.
    // Proven end-to-end: half the feed, run; the other half lands, run
    // again; the appended sink aggregates to the full-feed totals (any
    // double- or missed-file would break the hash). At 100 TB this is
    // how backfills and micro-batch ETL share one exactly-once
    // codepath.
    ("q317_available_now_resume", (s: SparkSession, d: String) => {
      import org.apache.spark.sql.streaming.Trigger
      val sf = new java.io.File(d).getName
      val root = s"/tmp/graft_q317/$sf"
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
      val ev = t(s, d, "events").select(col("event_id"), col("user_id"),
        (Exact.dec(col("value"), 12) * 100).cast("long").as("cents"),
        pmod(xxhash64(col("event_id")), lit(2)).as("half"))
      ev.filter(col("half") === 0).drop("half").coalesce(1)
        .write.parquet(s"$root/src/h0")
      def drain(): Unit = {
        val q = s.readStream
          .schema("event_id LONG, user_id LONG, cents LONG")
          .option("maxFilesPerTrigger", "1")
          .parquet(s"$root/src/*")
          .writeStream.format("parquet")
          .option("path", s"$root/out")
          .option("checkpointLocation", s"$root/ck")
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      drain()                                              // run 1: h0 only
      ev.filter(col("half") === 1).drop("half").coalesce(1)
        .write.parquet(s"$root/src/h1")
      drain()                                              // run 2: h1 only
      s.read.parquet(s"$root/out")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"), sum("cents").cast("long").as("cents"))
        .orderBy("user_id")
    }, Some("""
      SELECT user_id, COUNT(*) AS n,
        CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT))
          AS BIGINT) AS cents
      FROM events GROUP BY user_id ORDER BY user_id""")),

    // Write-audit-publish (WAP) — the lakehouse promotion gate: a
    // candidate batch lands in a STAGING table, the q227-style check
    // suite runs against the staged snapshot, and only a clean audit
    // promotes rows into the live table (one INSERT = one governed
    // snapshot; a dirty audit would leave live untouched). Output is
    // the audit verdicts plus the published row count, so the gate
    // decision itself is oracle-checked.
    ("q318_write_audit_publish", (s: SparkSession, d: String) => {
      val stg = rowLevelTable(s, d, "wap_stage")
      val live = rowLevelTable(s, d, "wap_live")
      t(s, d, "events").groupBy("user_id")
        .agg(count(lit(1)).as("n"), Exact.sumD(col("value")).as("sv"))
        .createOrReplaceTempView("q318_src")
      s.sql(s"CREATE TABLE $stg (user_id BIGINT, n BIGINT, sv DOUBLE)")
      s.sql(s"CREATE TABLE $live (user_id BIGINT, n BIGINT, sv DOUBLE)")
      s.sql(s"INSERT INTO $stg SELECT user_id, n, sv FROM q318_src")
      val audit = materialize(Checks.verify(s.table(stg), Seq(
        Checks.uniqueness("uniqueness_user_id", col("user_id")),
        Checks.rowCheck("completeness_user_id", col("user_id").isNull),
        Checks.rowCheck("range_n_positive", !(col("n") > 0))))).df
      val clean = audit.agg(max(when(col("status") === "FAIL", 1L)
        .otherwise(0L))).head().getLong(0) == 0L
      if (clean) s.sql(s"INSERT INTO $live SELECT * FROM $stg")
      audit.select(col("check_name"), col("n_violations"), col("status"))
        .crossJoin(broadcast(s.table(live)
          .agg(count(lit(1)).as("n_published"))))
        .orderBy("check_name")
    }, Some("""
      WITH g AS (SELECT user_id, COUNT(*) AS n FROM events GROUP BY 1),
      a AS (SELECT 'uniqueness_user_id' AS check_name,
          CAST((SELECT COUNT(*) - COUNT(DISTINCT user_id) FROM g)
            AS BIGINT) AS n_violations
        UNION ALL
        SELECT 'completeness_user_id',
          CAST((SELECT COUNT(*) FILTER (WHERE user_id IS NULL) FROM g)
            AS BIGINT)
        UNION ALL
        SELECT 'range_n_positive',
          CAST((SELECT COUNT(*) FILTER (WHERE NOT (n > 0)) FROM g)
            AS BIGINT))
      SELECT check_name, n_violations,
        CASE WHEN n_violations = 0 THEN 'PASS' ELSE 'FAIL' END AS status,
        (SELECT COUNT(*) FROM g) AS n_published
      FROM a ORDER BY check_name""")),

    // CUSUM change-point scan — where did the daily revenue level
    // shift? The classic cumulative-deviation statistic kept EXACT by
    // scaling: cusum_k = N·prefix_k − k·S is the integer N·(prefix_k −
    // k·mean), so no float mean ever enters; the peak |cusum| marks the
    // most likely change point. Day-grain relation (the prefix-sum
    // window is calendar-sized — documented single-partition, the q281
    // caveat); peak detection is one broadcast max.
    ("q319_cusum_changepoint", (s: SparkSession, d: String) => {
      // One corpus scan into the day-grain relation; every branch below
      // (prefix sum, totals, peak) reuses the calendar-sized checkpoint
      // instead of re-scanning orders.
      val daily = materialize(t(s, d, "orders")
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum((Exact.dec(col("o_totalprice"), 12) * 100).cast("long"))
          .cast("long").as("cents"))).df
      val cum = daily
        .withColumn("k", row_number().over(Window.orderBy("day")).cast("long"))
        .withColumn("pre", sum("cents").over(Window.orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val tot = daily.agg(count(lit(1)).as("nd"),
        sum("cents").cast("long").as("s"))
      val scored = cum.crossJoin(broadcast(tot))
        .withColumn("cusum", col("nd") * col("pre") - col("k") * col("s"))
      scored.crossJoin(broadcast(
          scored.agg(max(abs(col("cusum"))).as("mx"))))
        .select(col("day"), col("cents"), col("cusum"),
          (abs(col("cusum")) === col("mx")).as("is_peak"))
        .orderBy("day")
    }, Some("""
      WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
          CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
            AS BIGINT)) AS BIGINT) AS cents
        FROM orders GROUP BY 1),
      cum AS (SELECT day, cents,
          CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS k,
          CAST(SUM(cents) OVER (ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS pre
        FROM daily),
      tot AS (SELECT COUNT(*) AS nd, CAST(SUM(cents) AS BIGINT) AS s
              FROM daily),
      scored AS (SELECT day, cents,
          CAST(nd * pre - k * s AS BIGINT) AS cusum
        FROM cum, tot),
      mx AS (SELECT MAX(abs(cusum)) AS mx FROM scored)
      SELECT day, cents, cusum, abs(cusum) = mx AS is_peak
      FROM scored, mx ORDER BY day""")),

    // Lead-lag cross-correlation — do views LEAD purchases? Pearson r
    // of the two daily series at lags −3..+3, every moment an exact
    // integer sum (q71 discipline; only the closing formula is double).
    // Day-grain self-join per lag — calendar-sized relations, the
    // analysis cost is independent of the event volume feeding it.
    ("q320_leadlag_xcorr", (s: SparkSession, d: String) => {
      val daily = materialize(t(s, d, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(when(col("event_type") === "view", 1)).as("v"),
          count(when(col("event_type") === "purchase", 1)).as("p"))).df
      val lags = daily.sparkSession.range(-3, 4)
        .select(col("id").cast("int").as("lag"))
      val pairs = daily.as("a").crossJoin(broadcast(lags))
        .join(daily.as("b"),
          col("b.day") === date_add(col("a.day"), col("lag")))
        .select(col("lag"), col("a.v").as("v"), col("b.p").as("p"))
      pairs.groupBy("lag")
        .agg(count(lit(1)).as("n"),
          sum("v").as("sv"), sum("p").as("sp"),
          sum(col("v") * col("p")).as("svp"),
          sum(col("v") * col("v")).as("svv"),
          sum(col("p") * col("p")).as("spp"))
        .select(col("lag").cast("long").as("lag"), col("n"),
          ((col("n") * col("svp").cast("double")
              - col("sv").cast("double") * col("sp").cast("double")) /
            sqrt((col("n") * col("svv").cast("double")
                - col("sv").cast("double") * col("sv").cast("double")) *
              (col("n") * col("spp").cast("double")
                - col("sp").cast("double") * col("sp").cast("double"))))
            .as("xcorr"))
        .orderBy("lag")
    }, Some("""
      WITH daily AS (SELECT CAST(ts AS DATE) AS day,
          COUNT(*) FILTER (WHERE event_type = 'view') AS v,
          COUNT(*) FILTER (WHERE event_type = 'purchase') AS p
        FROM events GROUP BY 1),
      lags AS (SELECT unnest(range(-3, 4)) AS lag),
      pairs AS (SELECT lag, a.v AS v, b.p AS p
        FROM daily a CROSS JOIN lags
        JOIN daily b ON b.day = a.day + CAST(lag AS INT)),
      m AS (SELECT lag, COUNT(*) AS n,
          CAST(CAST(SUM(v) AS BIGINT) AS DOUBLE) AS sv,
          CAST(CAST(SUM(p) AS BIGINT) AS DOUBLE) AS sp,
          CAST(CAST(SUM(v * p) AS BIGINT) AS DOUBLE) AS svp,
          CAST(CAST(SUM(v * v) AS BIGINT) AS DOUBLE) AS svv,
          CAST(CAST(SUM(p * p) AS BIGINT) AS DOUBLE) AS spp
        FROM pairs GROUP BY 1)
      SELECT CAST(lag AS BIGINT) AS lag, n,
        (n * svp - sv * sp)
          / sqrt((n * svv - sv * sv) * (n * spp - sp * sp)) AS xcorr
      FROM m ORDER BY lag""")),

    // Day-of-week seasonality index — each ISO weekday's revenue
    // intensity vs the all-days baseline, as ONE exact integer ratio:
    // index_bp = (dow_cents · n_days · 10⁴) div (dow_days · total_cents)
    // — per-day averages never materialize as floats, so the index
    // hash-compares and cannot drift under re-aggregation. Two tiny
    // aggregates (dow-grain and one total) over the daily relation.
    ("q322_dow_seasonality", (s: SparkSession, d: String) => {
      val daily = materialize(t(s, d, "orders")
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum((Exact.dec(col("o_totalprice"), 12) * 100).cast("long"))
          .cast("long").as("cents"))).df
      val byDow = daily
        .groupBy((weekday(col("day")) + 1).cast("long").as("iso_dow"))
        .agg(count(lit(1)).as("n_days"),
          sum("cents").cast("long").as("dow_cents"))
      val tot = daily.agg(count(lit(1)).as("all_days"),
        sum("cents").cast("long").as("all_cents"))
      byDow.crossJoin(broadcast(tot))
        .select(col("iso_dow"), col("n_days"), col("dow_cents"),
          // DECIMAL(38,0) intermediates, as the oracle's HUGEINT: the
          // numerator passes 2^63 from about sf0.07.
          expr("CAST(dow_cents AS DECIMAL(38,0)) * all_days * 10000" +
            " div (CAST(n_days AS DECIMAL(38,0)) * all_cents)").as("index_bp"))
        .orderBy("iso_dow")
    }, Some("""
      WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
          CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
            AS BIGINT)) AS BIGINT) AS cents
        FROM orders GROUP BY 1),
      byDow AS (SELECT isodow(day) AS iso_dow, COUNT(*) AS n_days,
          CAST(SUM(cents) AS BIGINT) AS dow_cents
        FROM daily GROUP BY 1),
      tot AS (SELECT COUNT(*) AS all_days, CAST(SUM(cents) AS BIGINT)
          AS all_cents FROM daily)
      SELECT CAST(iso_dow AS BIGINT) AS iso_dow, n_days, dow_cents,
        CAST(CAST(dow_cents AS HUGEINT) * all_days * 10000
          // (CAST(n_days AS HUGEINT) * all_cents) AS BIGINT) AS index_bp
      FROM byDow, tot ORDER BY iso_dow""")),

    // Priority-source bronze merge — two overlapping feeds of the same
    // entity (feed B overlaps A on even keys and disagrees by +1 cent);
    // the merge keeps the HIGHER-priority source's row per key (one
    // keyed window with a priority total order — the multi-vendor
    // reference-data pattern). The per-source win counts and exact cent
    // totals prove which rows survived; the oracle states the same
    // precedence with a CASE on feed membership.
    ("q323_priority_merge", (s: SparkSession, d: String) => {
      val o = t(s, d, "orders").select(col("o_orderkey"),
        (Exact.dec(col("o_totalprice"), 12) * 100).cast("long").as("cents"))
      val a = o.filter(col("o_orderkey") % 3 =!= 1)
        .select(col("o_orderkey"), col("cents"), lit("A").as("src"))
      val b = o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), (col("cents") + 1).as("cents"),
          lit("B").as("src"))
      a.unionByName(b)
        .withColumn("rn", row_number().over(
          Window.partitionBy("o_orderkey").orderBy(col("src").asc)))
        .filter(col("rn") === 1)
        .groupBy("src")
        .agg(count(lit(1)).as("n_won"),
          sum("cents").cast("long").as("cents"))
        .orderBy("src")
    }, Some("""
      WITH o AS (SELECT o_orderkey,
          CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
            AS cents
        FROM orders),
      merged AS (SELECT o_orderkey,
          CASE WHEN o_orderkey % 3 <> 1 THEN cents ELSE cents + 1 END
            AS cents,
          CASE WHEN o_orderkey % 3 <> 1 THEN 'A' ELSE 'B' END AS src
        FROM o WHERE o_orderkey % 3 <> 1 OR o_orderkey % 2 = 0)
      SELECT src, COUNT(*) AS n_won, CAST(SUM(cents) AS BIGINT) AS cents
      FROM merged GROUP BY 1 ORDER BY src""")),

    // Distribution drift report — the feature-monitoring check between
    // two periods: equi-width value bins, per-period shares in exact
    // basis points, and the chi-square contribution per bin (expected
    // count scaled from period 1; the only doubles are the closing
    // formula, identically shaped on both engines — q207's precedent).
    // One conditional aggregate over the scan; bins without baseline
    // mass report null contribution instead of dividing by zero.
    ("q324_distribution_drift", (s: SparkSession, d: String) => {
      val tagged = t(s, d, "events")
        .select(to_date(col("ts")).as("day"), col("value"))
        .withColumn("half",
          when(col("day") <= lit("2024-01-15").cast("date"), 1).otherwise(2))
        .withColumn("bin", greatest(least(floor(col("value") / 10),
          lit(9.0)), lit(0.0)).cast("long"))
      val byBin = tagged.groupBy("bin")
        .agg(count(when(col("half") === 1, 1)).as("n1"),
          count(when(col("half") === 2, 1)).as("n2"))
      val tots = byBin.agg(sum("n1").cast("long").as("t1"),
        sum("n2").cast("long").as("t2"))
      byBin.crossJoin(broadcast(tots))
        .select(col("bin"), col("n1"), col("n2"),
          expr("n1 * 10000 div t1").as("share1_bp"),
          expr("n2 * 10000 div t2").as("share2_bp"),
          when(col("n1") > 0,
            pow(col("n2").cast("double")
              - col("n1").cast("double") * col("t2") / col("t1"), 2)
              / (col("n1").cast("double") * col("t2") / col("t1")))
            .as("chi2_contrib"))
        .orderBy("bin")
    }, Some("""
      WITH tagged AS (SELECT
          CASE WHEN CAST(ts AS DATE) <= DATE '2024-01-15' THEN 1 ELSE 2
            END AS half,
          CAST(GREATEST(LEAST(FLOOR(value / 10), 9), 0) AS BIGINT) AS bin
        FROM events),
      byBin AS (SELECT bin,
          COUNT(*) FILTER (WHERE half = 1) AS n1,
          COUNT(*) FILTER (WHERE half = 2) AS n2
        FROM tagged GROUP BY 1),
      tots AS (SELECT CAST(SUM(n1) AS BIGINT) AS t1,
          CAST(SUM(n2) AS BIGINT) AS t2 FROM byBin)
      SELECT bin, n1, n2,
        CAST(n1 * 10000 // t1 AS BIGINT) AS share1_bp,
        CAST(n2 * 10000 // t2 AS BIGINT) AS share2_bp,
        CASE WHEN n1 > 0 THEN
          pow(CAST(n2 AS DOUBLE) - CAST(n1 AS DOUBLE) * t2 / t1, 2)
            / (CAST(n1 AS DOUBLE) * t2 / t1) END AS chi2_contrib
      FROM byBin, tots ORDER BY bin""")),

    // Grid-blocked DBSCAN — density clustering with full role labeling
    // (core / border / noise) over per-user activity points, entirely
    // in exact integer arithmetic (squared distances, integer grid
    // cells). Candidates come from a 3x3 grid-cell equi-join (cell =
    // eps, so no within-eps pair can escape the neighborhood — q251's
    // blocking); core adjacency feeds the alternating-star CC; border
    // points take the MIN core-neighbor cluster (the deterministic
    // resolution of DBSCAN's assignment ambiguity). The oracle runs
    // the quadratic neighbor join and a recursive closure — its sf0.01
    // privilege; the engine's grid + CC shape is what survives scale.
    ("q326_dbscan_grid", (s: SparkSession, d: String) => {
      val eps2 = 225L // eps = 15 in scaled coords
      val pts = materialize(t(s, d, "events")
        .groupBy("user_id")
        .agg(sum((Exact.dec(col("value"), 12) * 100).cast("long"))
          .cast("long").as("sc"), count(lit(1)).as("n"))
        .select(col("user_id"), expr("sc div 1000").as("x"),
          (col("n") * 5).as("y"))).df
      val cells = pts
        .withColumn("cx", expr("x div 15")).withColumn("cy", expr("y div 15"))
      val a = cells.select(col("user_id").as("u"), col("x").as("ux"),
        col("y").as("uy"), col("cx"), col("cy"))
      val b = cells
        .withColumn("dx", explode(array(lit(-1L), lit(0L), lit(1L))))
        .withColumn("dy", explode(array(lit(-1L), lit(0L), lit(1L))))
        .select(col("user_id").as("v"), col("x").as("vx"),
          col("y").as("vy"), (col("cx") + col("dx")).as("cx"),
          (col("cy") + col("dy")).as("cy"))
      val nb = materialize(a.join(b, Seq("cx", "cy"))
        .filter(col("u") =!= col("v") &&
          (col("ux") - col("vx")) * (col("ux") - col("vx")) +
            (col("uy") - col("vy")) * (col("uy") - col("vy")) <= eps2)
        .select(col("u"), col("v"))).df
      val core = materialize(nb.groupBy("u").agg(count(lit(1)).as("dg"))
        .filter(col("dg") >= 3).select(col("u"))).df
      val coreEdges = nb
        .join(core, Seq("u"), "left_semi")
        .join(core.select(col("u").as("v")), Seq("v"), "left_semi")
        .filter(col("u") < col("v"))
        .select(col("u").as("src"), col("v").as("dst"))
      val cc = graft.llm.Components.connectedComponentsStars(
        core.select(col("u").as("id")), coreEdges)
      val coreLab = materialize(core.join(cc.select(col("id").as("u"),
          col("component")), Seq("u"), "left")
        .select(col("u"), coalesce(col("component"), col("u")).as("cluster"))).df
      val borderLab = nb.join(core, Seq("u"), "left_anti")
        .join(coreLab.select(col("u").as("v"), col("cluster")), Seq("v"))
        .groupBy("u").agg(min("cluster").as("cluster"))
      // `coreLab`'s job was the CC's last reader
      Bsp.releaseUnread(pts.join(coreLab.select(col("u").as("user_id"),
          col("cluster").as("core_cl")), Seq("user_id"), "left")
        .join(borderLab.select(col("u").as("user_id"),
          col("cluster").as("border_cl")), Seq("user_id"), "left")
        .select(col("user_id"), col("x"), col("y"),
          when(col("core_cl").isNotNull, "core")
            .when(col("border_cl").isNotNull, "border")
            .otherwise("noise").as("role"),
          coalesce(col("core_cl"), col("border_cl")).as("cluster"))
        .orderBy("user_id"), cc)
    }, Some("""
      WITH RECURSIVE p AS (SELECT user_id,
          CAST(SUM(CAST(value AS DECIMAL(12,2)) * 100) AS BIGINT) AS sc,
          COUNT(*) AS n
        FROM events GROUP BY 1),
      pts AS (SELECT user_id, sc // 1000 AS x, n * 5 AS y FROM p),
      nb AS (SELECT a.user_id AS u, b.user_id AS v
        FROM pts a JOIN pts b ON a.user_id <> b.user_id
          AND (a.x - b.x) * (a.x - b.x)
            + (a.y - b.y) * (a.y - b.y) <= 225),
      core AS (SELECT u FROM (SELECT u, COUNT(*) AS dg FROM nb GROUP BY 1)
               WHERE dg >= 3),
      ce AS (SELECT u, v FROM nb
             WHERE u IN (SELECT u FROM core) AND v IN (SELECT u FROM core)),
      reach AS (SELECT u, v FROM ce
                UNION
                SELECT r.u, e.v FROM reach r JOIN ce e ON r.v = e.u
                WHERE e.v <> r.u),
      comp AS (SELECT u, LEAST(u, MIN(v)) AS cluster FROM reach GROUP BY u),
      corelab AS (SELECT core.u, COALESCE(comp.cluster, core.u) AS cluster
                  FROM core LEFT JOIN comp ON comp.u = core.u),
      borderlab AS (SELECT nb.u, MIN(cl.cluster) AS cluster
                    FROM nb JOIN corelab cl ON nb.v = cl.u
                    WHERE nb.u NOT IN (SELECT u FROM core)
                    GROUP BY nb.u)
      SELECT pts.user_id, x, y,
        CASE WHEN c.u IS NOT NULL THEN 'core'
             WHEN bl.u IS NOT NULL THEN 'border'
             ELSE 'noise' END AS role,
        COALESCE(c.cluster, bl.cluster) AS cluster
      FROM pts
      LEFT JOIN corelab c ON c.u = pts.user_id
      LEFT JOIN borderlab bl ON bl.u = pts.user_id
      ORDER BY pts.user_id""")),

    // OFFSET pagination — the Spark 4 LIMIT/OFFSET surface under a
    // deterministic total order (page 3 of the price-ranked orders).
    // Fine on a report tail; the plan is a global sort + skip, which is
    // why keyset pagination (q12's top-k) is the at-scale idiom — this
    // entry pins that the SQL surface exists and pages exactly.
    ("q327_offset_pagination", (s: SparkSession, d: String) => {
      s.sql(s"""
        SELECT o_orderkey,
          CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price
        FROM parquet.`$d/orders.parquet`
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 20 OFFSET 40""")
    }, Some("""
      SELECT o_orderkey,
        CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price
      FROM orders
      ORDER BY o_totalprice DESC, o_orderkey
      LIMIT 20 OFFSET 40""")),

    // Arbitrary-width tumbling buckets in BATCH — 90-minute windows via
    // the same `window()` operator the streaming layer uses (q81's
    // 1-day form), checked against the oracle's epoch arithmetic
    // (floor(epoch/5400)·5400). Window start/end are emitted as
    // timestamps; counts and sums exact.
    ("q328_time_bucket_90m", (s: SparkSession, d: String) => {
      t(s, d, "events")
        .groupBy(window(col("ts"), "90 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"), Exact.sumD(col("value")).as("sv"))
        .select(col("window.start").as("w_start"),
          col("window.end").as("w_end"), col("event_type"), col("n"),
          col("sv"))
        .orderBy("w_start", "event_type")
    }, Some("""
      SELECT make_timestamp(CAST(floor(epoch(ts) / 5400) * 5400
          AS BIGINT) * 1000000) AS w_start,
        make_timestamp((CAST(floor(epoch(ts) / 5400) * 5400 AS BIGINT)
          + 5400) * 1000000) AS w_end,
        event_type, COUNT(*) AS n,
        CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sv
      FROM events
      GROUP BY 1, 2, 3 ORDER BY w_start, event_type""")),

    // GROUP-aware holdout — the leakage-safe split q314 motivates: the
    // gate hashes the SOURCE, not the document, so every doc of a
    // source lands on the same side and near-duplicate structure inside
    // a source can never straddle the split. The report proves the
    // invariant in-query: per source, exactly one side is populated.
    ("q329_grouped_holdout", (s: SparkSession, d: String) => {
      t(s, d, "documents")
        .withColumn("split",
          when(pmod(xxhash64(col("source")), lit(100)) < 20, "val")
            .otherwise("train"))
        .groupBy("source")
        .agg(count(when(col("split") === "train", 1)).as("n_train"),
          count(when(col("split") === "val", 1)).as("n_val"))
        .withColumn("pure", col("n_train") === 0 || col("n_val") === 0)
        .orderBy("source")
    }, Some(s"""
      WITH toks AS (SELECT DISTINCT 0 AS doc_id, source AS tok
        FROM documents),
      ${graft.llm.XxHashOracle.xxh64Ctes("toks")},
      sp AS (SELECT tok AS source,
          ((${graft.llm.XxHashOracle.signed("hu")} % 100) + 100) % 100 < 20
            AS v
        FROM hashed),
      g AS (SELECT d.source,
          COUNT(*) FILTER (WHERE NOT v) AS n_train,
          COUNT(*) FILTER (WHERE v) AS n_val
        FROM documents d JOIN sp ON d.source = sp.source
        GROUP BY d.source)
      SELECT source, CAST(n_train AS BIGINT) AS n_train,
        CAST(n_val AS BIGINT) AS n_val,
        n_train = 0 OR n_val = 0 AS pure
      FROM g ORDER BY source""")),

    // Interval DIFFERENCE — completes the interval algebra (union q262,
    // intersect q271): per-customer 14-day coverage windows, merged to
    // disjoint segments, minus the monthly freeze week (days 1-7 of
    // every month in the order calendar). Spark runs the linear sweep
    // (Intervals.mergePerKey + subtractBlocked: one keyed sort, the
    // blackout set a calendar-sized broadcast); the oracle runs a
    // genuinely different algorithm — day-grain set explosion, anti-set,
    // islands re-merge — so the sweep's clipping algebra is what's
    // checked, not a twin of itself.
    ("q331_interval_difference", (s: SparkSession, d: String) => {
      val o = t(s, d, "orders")
      val iv = o.select(col("o_custkey"),
          unix_date(to_date(col("o_orderdate"))).cast("long").as("st"))
        .withColumn("en", col("st") + 14)
      val segs = Intervals.mergePerKey(iv, "o_custkey", "st", "en")
      val blk = o.select(unix_date(trunc(to_date(col("o_orderdate")),
            "month")).cast("long").as("bst")).distinct()
        .withColumn("ben", col("bst") + 7)
      Intervals.subtractBlocked(segs, Seq("o_custkey"), "st", "en",
          blk, "bst", "ben")
        .orderBy("o_custkey", "st")
    }, Some("""
      WITH iv AS (SELECT o_custkey AS k,
          CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS d0
        FROM orders),
      cov AS (SELECT DISTINCT k, d0 + g AS day
        FROM iv, generate_series(0, 13) AS t(g)),
      mon AS (SELECT DISTINCT CAST(CAST(date_trunc('month', o_orderdate)
          AS DATE) - DATE '1970-01-01' AS BIGINT) AS m0 FROM orders),
      bdays AS (SELECT DISTINCT m0 + g AS day
        FROM mon, generate_series(0, 6) AS t(g)),
      keep AS (SELECT k, day FROM cov
        WHERE day NOT IN (SELECT day FROM bdays)),
      isl AS (SELECT k, day,
          day - ROW_NUMBER() OVER (PARTITION BY k ORDER BY day) AS grp
        FROM keep)
      SELECT k AS o_custkey, CAST(MIN(day) AS BIGINT) AS st,
        CAST(MAX(day) + 1 AS BIGINT) AS en
      FROM isl GROUP BY k, grp ORDER BY o_custkey, st""")),

    // Bitemporal as-of — valid time AND transaction time: each order is
    // a version with valid_from = order date and tx_from = order date
    // plus a 0-4 day recording lag. "What did we believe on T about the
    // state at V" picks, per customer, the version with the latest
    // valid_from <= V among those RECORDED by T (latest tx_from
    // tie-broken by orderkey) — one struct-max aggregate after the
    // scenario-grid broadcast; the oracle states the same pick as a
    // ROW_NUMBER over the identical total order. Two scenarios prove
    // the corrections actually change answers.
    ("q332_bitemporal_asof", (s: SparkSession, d: String) => {
      import s.implicits._
      val ver = t(s, d, "orders").select(col("o_custkey"),
        to_date(col("o_orderdate")).as("vf"),
        date_add(to_date(col("o_orderdate")),
          (col("o_orderkey") % 5).cast("int")).as("tf"),
        col("o_orderkey"),
        (Exact.dec(col("o_totalprice"), 12) * 100).cast("long").as("cents"))
      val scen = Seq(("as_known_1996", "1996-01-01", "1996-01-01"),
          ("revised_1998", "1996-01-01", "1998-01-01"))
        .toDF("scenario", "v0", "t0")
        .select(col("scenario"), to_date(col("v0")).as("v"),
          to_date(col("t0")).as("tt"))
      ver.join(broadcast(scen), col("vf") <= col("v") &&
          col("tf") <= col("tt"))
        .groupBy("o_custkey", "scenario")
        .agg(max(struct(col("vf"), col("tf"), col("o_orderkey"),
          col("cents"))).as("m"))
        .select(col("o_custkey"), col("scenario"), col("m.vf").as("vf"),
          col("m.cents").as("cents"))
        .orderBy("o_custkey", "scenario")
    }, Some("""
      WITH ver AS (SELECT o_custkey, CAST(o_orderdate AS DATE) AS vf,
          CAST(o_orderdate AS DATE)
            + CAST(o_orderkey % 5 AS INTEGER) AS tf,
          o_orderkey,
          CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        FROM orders),
      scen AS (SELECT * FROM (VALUES
          ('as_known_1996', DATE '1996-01-01', DATE '1996-01-01'),
          ('revised_1998', DATE '1996-01-01', DATE '1998-01-01'))
        AS t(scenario, v, tt)),
      r AS (SELECT o_custkey, scenario, vf, cents,
          ROW_NUMBER() OVER (PARTITION BY o_custkey, scenario
            ORDER BY vf DESC, tf DESC, o_orderkey DESC) AS rn
        FROM ver JOIN scen ON vf <= v AND tf <= tt)
      SELECT o_custkey, scenario, vf, cents FROM r WHERE rn = 1
      ORDER BY o_custkey, scenario""")),

    // Sliding HLL merge — the mergeability that justifies keeping a
    // sketch STORE (q157) at all: per-day user sketches union-merged
    // over the trailing 3-day window WITHOUT touching the raw events
    // again. The merge join is calendar×3 (metadata-sized, broadcast
    // spine); the exact gate recomputes the trailing distinct from the
    // deduped (day, user) relation and requires every merged estimate
    // within 5% — the q147/q157 approx-under-exact discipline.
    ("q334_hll_sliding_merge", (s: SparkSession, d: String) => {
      val ev = t(s, d, "events")
        .select(to_date(col("ts")).as("day"), col("user_id"))
      val du = materialize(ev.distinct()).df
      val sk = ev.groupBy("day")
        .agg(hll_sketch_agg(col("user_id")).as("sk"))
      val spine = du.select(col("day").as("d")).distinct()
      val merged = sk.join(broadcast(spine),
          datediff(col("d"), col("day")).between(0, 2))
        .groupBy(col("d"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      val exact = du.join(broadcast(spine),
          datediff(col("d"), col("day")).between(0, 2))
        .groupBy(col("d"))
        .agg(countDistinct(col("user_id")).as("exact"))
      merged.join(exact, Seq("d"))
        .select(col("d").as("day"), col("exact"),
          (abs(col("est") - col("exact")) <= lit(0.05) * col("exact"))
            .as("approx_ok"))
        .orderBy("day")
    }, Some("""
      WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
        FROM events),
      spine AS (SELECT DISTINCT day FROM du)
      SELECT s.day, COUNT(DISTINCT u.user_id) AS exact, true AS approx_ok
      FROM spine s JOIN du u ON u.day BETWEEN s.day - 2 AND s.day
      GROUP BY s.day ORDER BY s.day""")),

    // KEYSET (seek) pagination — the at-scale form q327's comment
    // promises: page 2 of the per-status price ranking fetched by
    // boundary predicate, not OFFSET. In production the boundary tuple
    // comes back from the client with the next-page request and only
    // the filter + per-group top-k runs (the filter prunes at the
    // scan; no global skip-sort). Here the boundary (each status's
    // 10th row) is computed in-query so the oracle can prove seek
    // page 2 ≡ OFFSET page 2 row for row.
    ("q335_keyset_pagination", (s: SparkSession, d: String) => {
      val o = t(s, d, "orders").select(col("o_orderstatus").as("st"),
        col("o_orderkey"),
        (Exact.dec(col("o_totalprice"), 12) * 100).cast("long").as("cents"))
      val w = Window.partitionBy("st")
        .orderBy(col("cents").desc, col("o_orderkey"))
      val bound = o.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 10)
        .select(col("st"), col("cents").as("bc"), col("o_orderkey").as("bk"))
      o.join(broadcast(bound), Seq("st"))
        .filter(col("cents") < col("bc") ||
          (col("cents") === col("bc") && col("o_orderkey") > col("bk")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 10)
        .select(col("st"), col("o_orderkey"), col("cents"),
          (col("rn") + 10).cast("long").as("page_rank"))
        .orderBy("st", "page_rank")
    }, Some("""
      WITH r AS (SELECT o_orderstatus AS st, o_orderkey,
          CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
            AS cents,
          ROW_NUMBER() OVER (PARTITION BY o_orderstatus
            ORDER BY CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
              AS BIGINT) DESC, o_orderkey) AS rn
        FROM orders)
      SELECT st, o_orderkey, cents, CAST(rn AS BIGINT) AS page_rank
      FROM r WHERE rn BETWEEN 11 AND 20
      ORDER BY st, page_rank""")),

    // Business-day arithmetic — promised ship date = the 5th business
    // day on or after the order date, computed against a ranked
    // business-day calendar (weekday() Mon..Fri both sides). The
    // calendar is date-range-sized and broadcasts; each order does one
    // next-business-day argmin and one rank-offset lookup — the
    // date-dim pattern (q311) applied to working-day offsets, no
    // per-row loops and no weekday closed-form edge cases.
    // Design note (round 6): this REPLACED a per-order range join
    // against the full calendar (a 255M-pair broadcast nested loop at
    // sf0.1, 6.4s) with the distinct-date argmin + equality join below
    // (0.8s) — the semantics are identical; only the join collapsed to
    // the calendar-sized relation.
    ("q336_business_day_offset", (s: SparkSession, d: String) => {
      val o = t(s, d, "orders")
        .select(col("o_orderkey"), to_date(col("o_orderdate")).as("odate"))
      val cal = o.agg(min("odate").as("d0"), max("odate").as("d1"))
        .select(explode(sequence(col("d0"), date_add(col("d1"), 14)))
          .as("day"))
        .filter(weekday(col("day")) < 5)
        .withColumn("idx",
          row_number().over(Window.orderBy("day")).cast("long"))
      // The next-business-day argmin depends only on the DATE — run the
      // range join on the distinct-date relation (calendar² pairs,
      // metadata) and give the corpus an equality broadcast join; the
      // orders×calendar nested loop this replaces evaluated 255M pairs
      // at sf0.1 (6.4 s → sub-second, identical output).
      val nxt = o.select("odate").distinct()
        .join(broadcast(cal), col("day") >= col("odate"))
        .groupBy("odate").agg(min("idx").as("nidx"))
      o.join(broadcast(nxt), Seq("odate"))
        .join(broadcast(cal), col("idx") === col("nidx") + 4)
        .select(col("o_orderkey"), col("odate"), col("day").as("promised"))
        .orderBy("o_orderkey")
    }, Some("""
      WITH bounds AS (SELECT MIN(CAST(o_orderdate AS DATE)) AS d0,
          MAX(CAST(o_orderdate AS DATE)) AS d1 FROM orders),
      cal AS (SELECT CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
          CAST(d1 AS TIMESTAMP) + INTERVAL 14 DAY, INTERVAL 1 DAY))
          AS DATE) AS day FROM bounds),
      bdays AS (SELECT day, ROW_NUMBER() OVER (ORDER BY day) AS idx
        FROM cal WHERE isodow(day) <= 5),
      nxt AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS odate,
          MIN(idx) AS nidx
        FROM orders JOIN bdays ON day >= CAST(o_orderdate AS DATE)
        GROUP BY 1, 2)
      SELECT n.o_orderkey, n.odate, b.day AS promised
      FROM nxt n JOIN bdays b ON b.idx = n.nidx + 4
      ORDER BY o_orderkey""")),

    // RFM segmentation — recency/frequency/monetary quintiles per
    // customer, the standard CRM cut. Quintiles are ntile(5) under a
    // TOTAL order (metric + custkey tie-break, so both engines bucket
    // identically); 5 = best (most recent / most frequent / highest
    // spend). The per-customer rollup is one keyed aggregate; each
    // quintile runs through ops.Dist.globalNtile (range-partitioned
    // two-level row numbers + one broadcast count, bit-identical to the
    // window ntile) — the customer dimension is corpus-scale at 100 TB,
    // so a bare `ntile(5).over(Window.orderBy(...))` would funnel it
    // through one task three times. The oracle keeps plain NTILE
    // windows (same values, serial plan).
    ("q338_rfm_segments", (s: SparkSession, d: String) => {
      val o = t(s, d, "orders").groupBy("o_custkey").agg(
        max(to_date(col("o_orderdate"))).as("last_d"),
        count(lit(1)).as("f"),
        sum((Exact.dec(col("o_totalprice"), 12) * 100).cast("long"))
          .cast("long").as("m"))
      val mx = o.agg(max("last_d").as("mxd"))
      // r13 OPT: each globalNtile range-partitions its input, and a
      // RANGE exchange executes its child TWICE (boundary-sampling pass
      // + map pass) plus once more for the ntile's count aggregate.
      // Folded three deep over an UNMATERIALIZED spine, the per-customer
      // aggregate re-ran ~20x (measured 24 s CPU for a 2.4 s query).
      // Materializing the base and each fold output caps every stage at
      // one evaluation — at 100 TB this is exactly the "materialize the
      // decision table once" posture (guide §2.3/§3.3); scores are a
      // pure function of the total order, so results are bit-identical.
      val base = materialize(o.crossJoin(broadcast(mx))
        .withColumn("recency", datediff(col("mxd"), col("last_d"))
          .cast("long")))
      val folds = Seq[(String, Seq[Column])](
        "r_score" -> Seq(col("recency").desc, col("o_custkey")),
        "f_score" -> Seq(col("f"), col("o_custkey")),
        "m_score" -> Seq(col("m"), col("o_custkey")))
      val scored = Bsp(base, folds.size) { (df, r) =>
        val (out, ord) = folds(r - 1)
        graft.ops.Dist.globalNtile(df, ord, 5, out)
      }.state.df
      scored
        .select(col("o_custkey"), col("recency"), col("f"), col("m"),
          col("r_score"), col("f_score"), col("m_score"),
          (col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
            .as("rfm"))
        .orderBy("o_custkey")
    }, Some("""
      WITH o AS (SELECT o_custkey, MAX(CAST(o_orderdate AS DATE)) AS last_d,
          COUNT(*) AS f,
          CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
            AS BIGINT)) AS BIGINT) AS m
        FROM orders GROUP BY 1),
      mx AS (SELECT MAX(last_d) AS mxd FROM o),
      base AS (SELECT o_custkey, CAST(mxd - last_d AS BIGINT) AS recency,
          f, m FROM o, mx),
      sc AS (SELECT o_custkey, recency, f, m,
          NTILE(5) OVER (ORDER BY recency DESC, o_custkey) AS r_score,
          NTILE(5) OVER (ORDER BY f, o_custkey) AS f_score,
          NTILE(5) OVER (ORDER BY m, o_custkey) AS m_score
        FROM base)
      SELECT o_custkey, recency, f, m,
        CAST(r_score AS BIGINT) AS r_score,
        CAST(f_score AS BIGINT) AS f_score,
        CAST(m_score AS BIGINT) AS m_score,
        CAST(r_score * 100 + f_score * 10 + m_score AS BIGINT) AS rfm
      FROM sc ORDER BY o_custkey""")),

    // Sequence-gap detection — the missing ranges of a sparse key
    // space (here the finished-order keys: this testdata's keys are
    // dense, so the 'F' slice supplies the sparseness real ingest IDs
    // have), found WITHOUT a global sort of the corpus: a key k+1
    // absent from the set opens a gap, k-1 absent closes one; both are
    // keyed ANTI-JOINS (corpus-sized work shuffles on the key only),
    // and the rank window that pairs the i-th start with the i-th end
    // runs over the gap-boundary set — gap-count-sized, metadata at
    // any scale. The oracle uses the classic LEAD-over-global-order
    // form, a genuinely different algorithm.
    ("q339_sequence_gaps", (s: SparkSession, d: String) => {
      val k = t(s, d, "orders").filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey").as("k"))
      val bounds = k.agg(min("k").as("kmin"), max("k").as("kmax"))
      def boundary(shift: Int) = k.select((col("k") + shift).as("v"))
        .distinct()
        .join(k, col("v") === col("k"), "left_anti")
        .crossJoin(broadcast(bounds))
      val gs = boundary(1).filter(col("v") <= col("kmax")).select("v")
      val ge = boundary(-1).filter(col("v") >= col("kmin")).select("v")
      val ws = Window.orderBy("v")
      gs.withColumn("rn", row_number().over(ws))
        .select(col("rn"), col("v").as("gap_start"))
        .join(ge.withColumn("rn", row_number().over(ws))
          .select(col("rn"), col("v").as("gap_end")), Seq("rn"))
        .select(col("gap_start"), col("gap_end"),
          (col("gap_end") - col("gap_start") + 1).as("missing"))
        .orderBy("gap_start")
    }, Some("""
      WITH k AS (SELECT DISTINCT o_orderkey AS k FROM orders
        WHERE o_orderstatus = 'F'),
      l AS (SELECT k, LEAD(k) OVER (ORDER BY k) AS nk FROM k)
      SELECT k + 1 AS gap_start, nk - 1 AS gap_end,
        nk - k - 1 AS missing
      FROM l WHERE nk > k + 1 ORDER BY gap_start""")),

    // PARTITION-SPEC EVOLUTION — the Iceberg-era layout concern q168
    // (schema evolution) leaves open: history lands day-partitioned,
    // newer data month-partitioned, and ONE logical table must read
    // both. Each layout normalizes to the day grain from its own
    // columns; per-day lineage (countDistinct on the _metadata file
    // name) proves exactly one file serves each partition unit in both
    // layouts. The oracle derives layout membership from the same
    // min-day+15 cutoff on the raw events.
    ("q341_partition_evolution", (s: SparkSession, d: String) => {
      // Input-signed cache path (the PlanCache.inputSalt discipline):
      // the two landed layouts are oracle-checked against the CURRENT
      // events table, and the driver may regenerate /root/testdata
      // while /tmp survives — an unsigned path would serve the previous
      // generation's layout and fail the hash gate.
      val evFile = new java.io.File(d, "events.parquet")
      val base = s"/tmp/graft_pe/${new java.io.File(d).getName}" +
        s"-${evFile.length()}-${evFile.lastModified()}"
      val ev = t(s, d, "events")
      if (!new java.io.File(s"$base/v2/_SUCCESS").exists()) {
        // 1-row metadata scalar sizes the layout cutoff
        val minDay = ev.agg(min(to_date(col("ts"))).as("d0"))
          .collect()(0).getDate(0)
        val cut = java.sql.Date.valueOf(minDay.toLocalDate.plusDays(15))
        ev.filter(to_date(col("ts")) < lit(cut))
          .withColumn("day", to_date(col("ts")))
          .repartition(col("day"))
          .write.mode("overwrite").partitionBy("day").parquet(s"$base/v1")
        ev.filter(to_date(col("ts")) >= lit(cut))
          .withColumn("month", date_format(col("ts"), "yyyy-MM"))
          .repartition(col("month"))
          .write.mode("overwrite").partitionBy("month").parquet(s"$base/v2")
      }
      val r1 = s.read.parquet(s"$base/v1")
        .select(col("day"), col("value"), lit("day").as("layout"),
          col("_metadata").getField("file_name").as("fn"))
      val r2 = s.read.parquet(s"$base/v2")
        .select(to_date(col("ts")).as("day"), col("value"),
          lit("month").as("layout"),
          col("_metadata").getField("file_name").as("fn"))
      r1.unionByName(r2)
        .groupBy("day", "layout")
        .agg(count(lit(1)).as("n"),
          Exact.sumD(col("value"), 12).as("sv"),
          countDistinct(col("fn")).as("n_files"))
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("layout"), col("n"), col("sv"), col("n_files"))
        .orderBy("day")
    }, Some("""
      WITH b AS (SELECT MIN(CAST(ts AS DATE)) AS d0 FROM events),
      e AS (SELECT CAST(ts AS DATE) AS day, value FROM events)
      SELECT strftime(day, '%Y-%m-%d') AS day,
        CASE WHEN day < d0 + 15 THEN 'day' ELSE 'month' END AS layout,
        COUNT(*) AS n,
        CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sv,
        CAST(1 AS BIGINT) AS n_files
      FROM e, b GROUP BY 1, 2 ORDER BY day""")),

    // Highest-averages (D'Hondt) budget allocation — the divisor-method
    // counterpart of q235's largest-remainder: 500 crawl/compute slots
    // across languages proportional to available chars, assigned as the
    // top-500 of the quotient grid avail/1..avail/500. The grid is
    // |langs|×500 (allocation-sized, never corpus-sized); quotients are
    // exactly-rounded double divisions of exact longs, totally ordered
    // with a (lang, divisor) tie-break, so both engines pick identical
    // seats.
    ("q342_dhondt_allocation", (s: SparkSession, d: String) => {
      val seats = 500
      val a = t(s, d, "documents").groupBy("lang")
        .agg(sum("n_chars").cast("long").as("avail"))
      val grid = a.select(col("lang"), col("avail"),
          explode(sequence(lit(1), lit(seats))).as("i"))
        .withColumn("quot", col("avail").cast("double") / col("i"))
      val won = grid.withColumn("rn", row_number().over(
          Window.orderBy(col("quot").desc, col("lang"), col("i"))))
        .filter(col("rn") <= seats)
        .groupBy("lang").agg(count(lit(1)).as("seats"))
      a.join(won, Seq("lang"), "left")
        .select(col("lang"), col("avail"),
          coalesce(col("seats"), lit(0L)).cast("long").as("seats"))
        .orderBy("lang")
    }, Some("""
      WITH a AS (SELECT lang, CAST(SUM(n_chars) AS BIGINT) AS avail
        FROM documents GROUP BY 1),
      grid AS (SELECT lang, avail, CAST(i AS BIGINT) AS i,
          CAST(avail AS DOUBLE) / i AS quot
        FROM a, (SELECT unnest(range(1, 501)) AS i)),
      r AS (SELECT lang,
          ROW_NUMBER() OVER (ORDER BY quot DESC, lang, i) AS rn
        FROM grid),
      won AS (SELECT lang, COUNT(*) AS seats FROM r
        WHERE rn <= 500 GROUP BY 1)
      SELECT a.lang AS lang, avail,
        CAST(COALESCE(won.seats, 0) AS BIGINT) AS seats
      FROM a LEFT JOIN won ON a.lang = won.lang
      ORDER BY a.lang""")),

    // Theil-Sen robust trend — the median of all pairwise day-slopes of
    // the daily event count, immune to the outlier days that bend the
    // OLS fit (q205). The pair space is CALENDAR², built from the
    // day-grain checkpoint (one corpus scan), never from raw rows; the
    // median pick is one rank over that pair relation. Slopes are
    // exactly-rounded double divisions of exact longs — bit-identical
    // across engines; the lower median is picked by rank, not
    // interpolation.
    ("q343_theilsen_trend", (s: SparkSession, d: String) => {
      val daily = materialize(t(s, d, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("y"))
        .select(unix_date(col("day")).cast("long").as("x"), col("y"))).df
      val p = daily.as("a").join(daily.as("b"), col("a.x") < col("b.x"))
        .select(((col("b.y") - col("a.y")).cast("double") /
          (col("b.x") - col("a.x"))).as("slope"))
      val tot = p.agg(count(lit(1)).as("n_pairs"))
      p.withColumn("rn", row_number().over(Window.orderBy("slope")))
        .crossJoin(broadcast(tot))
        .filter(col("rn") === expr("(n_pairs + 1) div 2"))
        .select(col("n_pairs"), col("slope").as("median_slope"))
    }, Some("""
      WITH daily AS (SELECT
          CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS x,
          COUNT(*) AS y
        FROM events GROUP BY 1),
      p AS (SELECT CAST(b.y - a.y AS DOUBLE) / (b.x - a.x) AS slope
        FROM daily a JOIN daily b ON a.x < b.x),
      r AS (SELECT slope, ROW_NUMBER() OVER (ORDER BY slope) AS rn FROM p),
      m AS (SELECT COUNT(*) AS n_pairs FROM p)
      SELECT n_pairs, slope AS median_slope FROM r, m
      WHERE rn = (n_pairs + 1) // 2""")),

    // MATCH_RECOGNIZE-style sequence pattern matching — the event-
    // pattern operator Spark SQL lacks: per user, the time-ordered
    // event stream becomes one character string (one char per event
    // type) and the funnel pattern `v[ce]*p` (view, any clicks/errors,
    // purchase) is matched with leftmost-greedy non-overlapping regex
    // semantics — quantifiers and alternation for free, unlike the
    // fixed-slot funnels (q142/q309). The collect is keyed by user
    // (per-user history is bounded; this never builds a global
    // string), sorted by (ts, event_id) for a total order; both
    // engines' regex engines agree on leftmost-greedy for this
    // backreference-free pattern.
    ("q346_event_pattern_match", (s: SparkSession, d: String) => {
      val chExpr = """CASE event_type WHEN 'view' THEN 'v'
        WHEN 'click' THEN 'c' WHEN 'purchase' THEN 'p'
        WHEN 'signup' THEN 's' ELSE 'e' END"""
      val per = t(s, d, "events")
        .select(col("user_id"),
          struct(col("ts"), col("event_id"), expr(chExpr).as("ch")).as("st"))
        .groupBy("user_id")
        .agg(array_join(expr("transform(array_sort(collect_list(st)), x -> x.ch)"), "").as("seq"))
      per.select(col("user_id"),
          length(col("seq")).cast("long").as("n_events"),
          expr("regexp_extract_all(seq, 'v[ce]*p', 0)").as("m"))
        .select(col("user_id"), col("n_events"),
          size(col("m")).cast("long").as("n_funnels"),
          length(array_join(col("m"), "")).cast("long").as("match_chars"))
        .orderBy("user_id")
    }, Some("""
      WITH m AS (SELECT user_id,
          string_agg(CASE event_type WHEN 'view' THEN 'v'
            WHEN 'click' THEN 'c' WHEN 'purchase' THEN 'p'
            WHEN 'signup' THEN 's' ELSE 'e' END, ''
            ORDER BY ts, event_id) AS seq
        FROM events GROUP BY 1),
      x AS (SELECT user_id, seq,
          regexp_extract_all(seq, 'v[ce]*p') AS ms FROM m)
      SELECT user_id, CAST(length(seq) AS BIGINT) AS n_events,
        CAST(len(ms) AS BIGINT) AS n_funnels,
        CAST(length(array_to_string(ms, '')) AS BIGINT) AS match_chars
      FROM x ORDER BY user_id""")),

    // Parallel LTTB downsampling — largest-triangle-three-buckets over
    // the daily event-count series, the standard viz/telemetry
    // decimation. The parallel variant scores each candidate against
    // the NEIGHBOR BUCKETS' MEANS (classic LTTB chains on the previous
    // SELECTED point — inherently sequential); first/last buckets keep
    // their boundary points, as in the original. All arithmetic is
    // integer: the 2·area score is cross-multiplied by np²·nn to clear
    // the mean denominators, so the argmax (tie-break: earliest day)
    // is bit-identical across engines. Everything after the one
    // day-grain aggregation is calendar-sized.
    ("q349_lttb_downsample", (s: SparkSession, d: String) => {
      val daily = t(s, d, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("y"))
        .select(unix_date(col("day")).cast("long").as("x"), col("y"))
        .withColumn("b", expr("x div 5"))
      val bs = daily.groupBy("b").agg(
        count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"))
      val wOrd = Window.orderBy("b")
      val nb = bs.select(col("b"),
        lag("n", 1).over(wOrd).as("np"), lag("sx", 1).over(wOrd).as("sxp"),
        lag("sy", 1).over(wOrd).as("syp"),
        lead("n", 1).over(wOrd).as("nn"), lead("sx", 1).over(wOrd).as("sxn"),
        lead("sy", 1).over(wOrd).as("syn"))
      val lim = bs.agg(min("b").as("bmin"), max("b").as("bmax"))
      val scored = daily.join(nb, "b").crossJoin(broadcast(lim))
        .withColumn("score", expr("""abs(
          (sxp * nn - sxn * np) * (y * np - syp)
          - (sxp - x * np) * (syn * np - syp * nn))"""))
        .withColumn("ord1", expr(
          "CASE WHEN b = bmin THEN x WHEN b = bmax THEN -x ELSE -score END"))
      scored.withColumn("rn", row_number().over(
          Window.partitionBy("b").orderBy(col("ord1"), col("x"))))
        .filter(col("rn") === 1)
        .select(col("b").as("bucket"),
          date_format(expr("date_add(DATE '1970-01-01', CAST(x AS INT))"),
            "yyyy-MM-dd").as("day"), col("y"))
        .orderBy("bucket")
    }, Some("""
      WITH daily AS (SELECT
          CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS x,
          COUNT(*) AS y
        FROM events GROUP BY 1),
      db AS (SELECT x, y, x // 5 AS b FROM daily),
      bs AS (SELECT b, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy
        FROM db GROUP BY 1),
      nb AS (SELECT b,
          LAG(n) OVER (ORDER BY b) AS np, LAG(sx) OVER (ORDER BY b) AS sxp,
          LAG(sy) OVER (ORDER BY b) AS syp,
          LEAD(n) OVER (ORDER BY b) AS nn, LEAD(sx) OVER (ORDER BY b) AS sxn,
          LEAD(sy) OVER (ORDER BY b) AS syn
        FROM bs),
      lim AS (SELECT MIN(b) AS bmin, MAX(b) AS bmax FROM bs),
      sc AS (SELECT db.b, db.x, db.y,
          abs((sxp * nn - sxn * np) * (db.y * np - syp)
            - (sxp - db.x * np) * (syn * np - syp * nn)) AS score,
          CASE WHEN db.b = bmin THEN db.x WHEN db.b = bmax THEN -db.x
            ELSE -abs((sxp * nn - sxn * np) * (db.y * np - syp)
              - (sxp - db.x * np) * (syn * np - syp * nn)) END AS ord1
        FROM db JOIN nb ON db.b = nb.b, lim),
      r AS (SELECT b, x, y,
          ROW_NUMBER() OVER (PARTITION BY b ORDER BY ord1, x) AS rn
        FROM sc)
      SELECT b AS bucket,
        strftime(DATE '1970-01-01' + CAST(x AS INT), '%Y-%m-%d') AS day, y
      FROM r WHERE rn = 1 ORDER BY bucket""")),

    // l-diversity audit — the release gate k-anonymity (q289) cannot
    // express: a quasi-identifier group can be large (k-anonymous) yet
    // expose its members because every row shares one sensitive value.
    // Per (nation, segment) group: size, l = distinct sensitive
    // account-balance bands, and the l≥3 verdict. Bands are
    // FLOOR(acctbal/2000) — one double op, identical in both engines;
    // everything else is exact integer counting. One keyed agg at
    // 100 TB; no row-level data leaves the scan.
    ("q353_l_diversity", (s: SparkSession, d: String) => {
      t(s, d, "customer")
        .select(col("c_nationkey").cast("long").as("nation"),
          col("c_mktsegment").as("segment"),
          floor(col("c_acctbal") / 2000.0).cast("long").as("band"))
        .groupBy("nation", "segment")
        .agg(count(lit(1)).as("n"),
          countDistinct(col("band")).as("l"))
        .withColumn("diverse", col("l") >= 3)
        .orderBy("nation", "segment")
    }, Some("""
      SELECT CAST(c_nationkey AS BIGINT) AS nation,
        c_mktsegment AS segment, COUNT(*) AS n,
        CAST(COUNT(DISTINCT CAST(FLOOR(c_acctbal / 2000.0) AS BIGINT))
          AS BIGINT) AS l,
        CAST(COUNT(DISTINCT CAST(FLOOR(c_acctbal / 2000.0) AS BIGINT))
          AS BIGINT) >= 3 AS diverse
      FROM customer GROUP BY 1, 2 ORDER BY nation, segment""")),

    // Inter-arrival burstiness (Goh & Barabási 2008): per user,
    // B = (σ−μ)/(σ+μ) over the event gap distribution — the user-
    // behavior signal that separates bots (B→−1, regular) from bursty
    // humans (B→+1). Gaps are exact integer micros via one keyed
    // window; Σg and Σg² accumulate in DECIMAL so the only floats are
    // the closing casts, divisions and ONE sqrt — and IEEE-754 sqrt is
    // correctly rounded, so (unlike ln/pow) it is bit-identical across
    // engines. One corpus window + one keyed agg at 100 TB.
    ("q354_event_burstiness", (s: SparkSession, d: String) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val g = t(s, d, "events")
        .select(col("user_id"), col("ts"), col("event_id"))
        .withColumn("tu", unix_micros(col("ts")))
        .withColumn("prev", lag("tu", 1).over(w))
        .filter(col("prev").isNotNull)
        .select(col("user_id"), (col("tu") - col("prev")).as("g"))
      g.groupBy("user_id").agg(
          count(lit(1)).as("n_gaps"),
          Exact.sum(col("g")).as("sg"),
          Exact.sumProduct(col("g"), col("g")).as("sg2"))
        .filter(col("n_gaps") >= 2)
        .select(col("user_id"), col("n_gaps"),
          expr("CAST(sg AS DOUBLE) / n_gaps").as("mean_gap_us"),
          expr("sqrt(CAST(n_gaps * sg2 - sg * sg AS DOUBLE)) / n_gaps")
            .as("sd_gap_us"))
        .withColumn("burstiness",
          (col("sd_gap_us") - col("mean_gap_us"))
            / (col("sd_gap_us") + col("mean_gap_us")))
        .orderBy("user_id")
    }, Some("""
      WITH o AS (SELECT user_id, epoch_us(ts) AS tu,
          LAG(epoch_us(ts)) OVER (PARTITION BY user_id
            ORDER BY ts, event_id) AS prev
        FROM events),
      g AS (SELECT user_id, tu - prev AS g FROM o WHERE prev IS NOT NULL),
      a AS (SELECT user_id, COUNT(*) AS n_gaps,
          SUM(CAST(g AS HUGEINT)) AS sg,
          SUM(CAST(g AS HUGEINT) * CAST(g AS HUGEINT)) AS sg2
        FROM g GROUP BY 1 HAVING COUNT(*) >= 2),
      m AS (SELECT user_id, n_gaps,
          CAST(sg AS DOUBLE) / n_gaps AS mean_gap_us,
          sqrt(CAST(n_gaps * sg2 - sg * sg AS DOUBLE)) / n_gaps
            AS sd_gap_us
        FROM a)
      SELECT user_id, n_gaps, mean_gap_us, sd_gap_us,
        (sd_gap_us - mean_gap_us) / (sd_gap_us + mean_gap_us)
          AS burstiness
      FROM m ORDER BY user_id""")),

    // Parameterized SQL + the IDENTIFIER() clause — the injection-safe
    // templating surface (Spark 3.4/3.5): the table name binds through
    // IDENTIFIER(:tbl) and the filter through :cut as real named
    // parameters, not string splicing. Semantics identical to the
    // inlined query, which is exactly what the oracle checks.
    ("q358_parameterized_sql", (s: SparkSession, d: String) => {
      val vn = s"li_param_${new java.io.File(d).getName.replace(".", "_")}"
      t(s, d, "lineitem").createOrReplaceTempView(vn)
      s.sql(
        """SELECT l_returnflag,
             CAST(SUM(CAST(l_quantity AS DECIMAL(10,2))) AS DOUBLE)
               AS sum_qty,
             COUNT(*) AS n
           FROM IDENTIFIER(:tbl) WHERE l_quantity <= :cap
           GROUP BY l_returnflag ORDER BY l_returnflag""",
        Map("tbl" -> vn, "cap" -> 25))
    }, Some("""
      SELECT l_returnflag,
        CAST(SUM(CAST(l_quantity AS DECIMAL(10,2))) AS DOUBLE) AS sum_qty,
        COUNT(*) AS n
      FROM lineitem WHERE l_quantity <= 25
      GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // SQL scripting (Spark 4 BEGIN…END): DECLARE'd variables, a scalar
    // subquery assignment reading the data, and a WHILE + IF/ELSE
    // bisection computing the integer square root — the procedural
    // control flow the SQL-only user previously needed a driver
    // program for. Bisection (31 fixed iterations, lo² ≤ n < hi²
    // invariant) rather than counting up: each scripting statement is
    // a driver round-trip, so the loop count must be DATA-INDEPENDENT
    // — the naive increment loop was O(√n) statements and 9 s at
    // sf0.1. The script's final SELECT is the result; the oracle is
    // the closed form (floor(sqrt(n)) — IEEE sqrt is correctly
    // rounded in both engines).
    ("q359_sql_scripting", (s: SparkSession, d: String) => {
      val vn = s"ord_script_${new java.io.File(d).getName.replace(".", "_")}"
      t(s, d, "orders").createOrReplaceTempView(vn)
      s.sql(
        s"""BEGIN
              DECLARE n BIGINT DEFAULT 0;
              DECLARE lo BIGINT DEFAULT 0;
              DECLARE hi BIGINT DEFAULT 0;
              DECLARE mid BIGINT DEFAULT 0;
              SET n = (SELECT COUNT(*) FROM $vn WHERE o_orderstatus = 'F');
              -- r13 OPT: seed the upper bound from the data instead of
              -- 2^31 — (n+1)^2 > n always, so the invariant
              -- lo^2 <= n < hi^2 holds and the result is unchanged at
              -- every scale, while the WHILE runs ~log2(n) iterations
              -- (17 at sf0.1) instead of a fixed 31. Each iteration is
              -- 3 statements through the scripting engine at ~30 ms of
              -- driver-side analysis each — the query's whole cost.
              SET hi = n + 1;
              WHILE hi - lo > 1 DO
                SET mid = (lo + hi) DIV 2;
                IF mid * mid <= n THEN
                  SET lo = mid;
                ELSE
                  SET hi = mid;
                END IF;
              END WHILE;
              SELECT n AS n_finished, lo AS isqrt_n;
            END""")
    }, Some("""
      SELECT COUNT(*) AS n_finished,
        CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT) AS isqrt_n
      FROM orders WHERE o_orderstatus = 'F'""")),

    // Watermark late-data semantics, END TO END: three hash-split chunks
    // of the events table arrive as three REAL micro-batches (write →
    // AvailableNow drain per chunk, checkpointed watermark carries
    // across runs), each chunk spanning the whole month — so chunks
    // 2-3 are mostly LATE behind the 2-day watermark and get dropped;
    // a final already-late marker row forces the flush batch that
    // emits the last closed windows. The oracle REPLAYS THE WATERMARK
    // TRAJECTORY in SQL: per-chunk running max event time, lagged
    // minus the delay = the watermark each batch faced; rows below it
    // are excluded and only windows closed by the final watermark
    // appear. This is the dropped-late-rows accounting the q81
    // complete-mode aggregation cannot show.
    ("q361_stream_late_drop", (s: SparkSession, d: String) => {
      import org.apache.spark.sql.streaming.Trigger
      val root = s"/tmp/graft_q361/${new java.io.File(d).getName}"
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
      val ev = t(s, d, "events").select(col("event_id"), col("ts"),
        pmod(xxhash64(col("event_id")), lit(3)).as("c"))
      def drain(): Unit =
        graft.streaming.Streams.withSizedState(s, s"$d/events.parquet") {
          val q = s.readStream.schema("event_id LONG, ts TIMESTAMP")
            .option("maxFilesPerTrigger", "1")
            .parquet(s"$root/src/*")
            .withWatermark("ts", "2 days")
            .groupBy(window(col("ts"), "1 day"))
            .agg(count(lit(1)).as("n"))
            .select(col("window.start").as("w0"), col("n"))
            .writeStream.format("parquet")
            .option("path", s"$root/out")
            .option("checkpointLocation", s"$root/ck")
            .trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
        }
      for (i <- 0 to 2) {
        ev.filter(col("c") === i).select("event_id", "ts").coalesce(1)
          .write.parquet(s"$root/src/c$i")
        drain()
      }
      ev.orderBy("ts", "event_id").limit(1).select("event_id", "ts")
        .coalesce(1).write.parquet(s"$root/src/flush")
      drain()
      s.read.parquet(s"$root/out")
        .select(date_format(col("w0"), "yyyy-MM-dd").as("day"), col("n"))
        .orderBy("day")
    }, Some {
      // Per-event batch hash through the linear per-step chain — the
      // inline macro evaluated its argument ~1000x per events row and
      // left this among the suite's slowest oracles (~6 s).
      val hashedEv = graft.llm.XxHashOracle.hashLongSubquery("events",
        Seq("event_id", "ts"),
        "CAST(event_id AS HUGEINT)", "CAST(42 AS HUGEINT)", "hu")
      s"""
      WITH e AS (SELECT event_id, ts,
          ((${graft.llm.XxHashOracle.signed("hu")} % 3) + 3) % 3 AS c
        FROM $hashedEv _e),
      cm AS (SELECT c, MAX(ts) AS mx FROM e GROUP BY 1),
      rm AS (SELECT c, MAX(mx) OVER (ORDER BY c
          ROWS UNBOUNDED PRECEDING) AS runmax FROM cm),
      wmb AS (SELECT c, COALESCE(LAG(runmax) OVER (ORDER BY c),
          TIMESTAMP '1970-01-01') - INTERVAL 2 DAY AS wm FROM rm),
      surv AS (SELECT e.ts FROM e JOIN wmb USING (c)
        WHERE e.ts >= wmb.wm),
      fin AS (SELECT MAX(runmax) - INTERVAL 2 DAY AS wmf FROM rm),
      agg AS (SELECT date_trunc('day', ts) AS w0, COUNT(*) AS n
        FROM surv GROUP BY 1)
      SELECT strftime(w0, '%Y-%m-%d') AS day, n FROM agg, fin
      WHERE w0 + INTERVAL 1 DAY <= wmf ORDER BY day"""
    }),

    // SQL table function (Spark 4 CREATE FUNCTION … RETURNS TABLE) —
    // the reusable parameterized-view surface: top-n order spenders per
    // status as a SQL-defined UDTF invoked in the FROM clause. The
    // oracle inlines the identical body, so the check proves function
    // resolution + correlation, not new semantics.
    ("q363_sql_table_function", (s: SparkSession, d: String) => {
      t(s, d, "orders").createOrReplaceTempView("ord_q363")
      s.sql("""
        CREATE OR REPLACE TEMPORARY FUNCTION q363_top_orders(
            st STRING, n INT)
        RETURNS TABLE(o_orderkey BIGINT, o_totalprice DOUBLE)
        RETURN SELECT o_orderkey, o_totalprice FROM (
          SELECT o_orderkey, o_totalprice, row_number() OVER (
            ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM ord_q363 WHERE o_orderstatus = st)
        WHERE rn <= n""")
      s.sql("""
        SELECT 'F' AS st, * FROM q363_top_orders('F', 5)
        UNION ALL
        SELECT 'O', * FROM q363_top_orders('O', 5)
        ORDER BY st, o_totalprice DESC, o_orderkey""")
    }, Some("""
      WITH f AS (SELECT 'F' AS st, o_orderkey, o_totalprice FROM orders
        WHERE o_orderstatus = 'F'
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 5),
      o AS (SELECT 'O' AS st, o_orderkey, o_totalprice FROM orders
        WHERE o_orderstatus = 'O'
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 5)
      SELECT * FROM (SELECT * FROM f UNION ALL SELECT * FROM o)
      ORDER BY st, o_totalprice DESC, o_orderkey""")),

    // Join-strategy hints — REBALANCE on the build side plus
    // SHUFFLE_HASH forcing a hash join where the planner would default
    // to sort-merge: the manual override lever for the cases AQE's
    // statistics miss. Results are hint-invariant (the oracle is the
    // plain join); the PLAN is the deliverable and is pinned in
    // PlanQualitySpec (ShuffledHashJoin present, SortMergeJoin absent).
    ("q364_join_hints", (s: SparkSession, d: String) => {
      t(s, d, "lineitem").createOrReplaceTempView("li_q364")
      t(s, d, "orders").createOrReplaceTempView("ord_q364")
      s.sql("""
        SELECT /*+ SHUFFLE_HASH(o) */
          o.o_orderstatus,
          CAST(SUM(CAST(l.l_quantity AS DECIMAL(10,2))) AS DOUBLE)
            AS sum_qty,
          COUNT(*) AS n
        FROM (SELECT /*+ REBALANCE(l_orderkey) */ l_orderkey, l_quantity
              FROM li_q364) l
        JOIN ord_q364 o ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderstatus ORDER BY o.o_orderstatus""")
    }, Some("""
      SELECT o_orderstatus,
        CAST(SUM(CAST(l_quantity AS DECIMAL(10,2))) AS DOUBLE) AS sum_qty,
        COUNT(*) AS n
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // NEAREST as-of join — the third as-of semantics next to backward
    // (q18/q65) and forward (q246): for every view, the user's closest
    // purchase in EITHER direction, ties to the earlier one. Composed
    // from the two keyed as-of passes (each a bounded merge per key —
    // the 100 TB shape) with one integer-micros comparison; the oracle
    // ranks the per-user candidate space directly by (|Δ|, direction),
    // a genuinely different algorithm.
    ("q365_asof_nearest", (s: SparkSession, d: String) => {
      val ev = t(s, d, "events")
      val views = ev.filter(col("event_type") === "view")
        .select("event_id", "user_id", "ts")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("user_id", "ts")
      val both = AsOf.firstRightTs(
          AsOf.lastRightTs(views, purchases, "user_id", "ts", "prev_ts"),
          purchases, "user_id", "ts", "next_ts")
      both
        .withColumn("dp", unix_micros(col("ts")) - unix_micros(col("prev_ts")))
        .withColumn("dn", unix_micros(col("next_ts")) - unix_micros(col("ts")))
        .withColumn("nearest_ts",
          when(col("prev_ts").isNull, col("next_ts"))
            .when(col("next_ts").isNull, col("prev_ts"))
            .when(col("dp") <= col("dn"), col("prev_ts"))
            .otherwise(col("next_ts")))
        .filter(col("nearest_ts").isNotNull)
        .select(col("event_id"),
          date_format(col("nearest_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
            .as("nearest_purchase"))
        .orderBy("event_id")
    }, Some("""
      WITH v AS (SELECT event_id, user_id, ts FROM events
        WHERE event_type = 'view'),
      p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
      c AS (SELECT v.event_id, p.ts AS pts,
          row_number() OVER (PARTITION BY v.event_id
            ORDER BY abs(epoch_us(p.ts) - epoch_us(v.ts)),
              p.ts) AS rn
        FROM v JOIN p ON v.user_id = p.user_id)
      SELECT event_id,
        strftime(pts, '%Y-%m-%d %H:%M:%S.%f') AS nearest_purchase
      FROM c WHERE rn = 1 ORDER BY event_id""")),

    // t-closeness — the third leg of the privacy-audit family
    // (k-anonymity q289, l-diversity q353): per quasi-identifier class
    // (nation × segment), the Earth Mover's Distance between the class's
    // distribution over an ORDERED sensitive attribute (acctbal in ten
    // fixed-width bins) and the global distribution:
    // t = Σ_{i<k-1} |cum_i(p − q)| / (k−1). All cumulative sums run as
    // exact cross-multiplied integers (cnt_b·N − g_b·N_c — no per-class
    // float probabilities), one double division at the end. The global
    // histogram rides in on a 10-row broadcast; nothing class-quadratic.
    ("q370_t_closeness", (s: SparkSession, d: String) => {
      val cust = t(s, d, "customer").select(
        col("c_nationkey"), col("c_mktsegment"),
        expr("(CAST(CAST(c_acctbal AS DECIMAL(10,2)) * 100 AS BIGINT)" +
          " + 100000) div 110000").as("b"))
      val g = cust.groupBy("b").agg(count(lit(1)).as("gb"))
        .withColumn("n_total", sum("gb").over(Window.partitionBy()))
      val cb = cust.groupBy("c_nationkey", "c_mktsegment", "b")
        .agg(count(lit(1)).as("cnt"))
      val spine = cust.groupBy("c_nationkey", "c_mktsegment")
        .agg(count(lit(1)).as("n_class"))
        .select(col("c_nationkey"), col("c_mktsegment"), col("n_class"),
          explode(sequence(lit(0L), lit(9L))).as("b"))
      spine
        .join(cb, Seq("c_nationkey", "c_mktsegment", "b"), "left")
        .join(broadcast(g), Seq("b"))
        .withColumn("diff", coalesce(col("cnt"), lit(0L)) * col("n_total")
          - col("gb") * col("n_class"))
        .withColumn("cum", sum("diff").over(
          Window.partitionBy("c_nationkey", "c_mktsegment").orderBy("b")))
        .filter(col("b") < 9)
        .groupBy("c_nationkey", "c_mktsegment", "n_class", "n_total")
        .agg(sum(abs(col("cum"))).as("s"))
        .select(col("c_nationkey"), col("c_mktsegment"), col("n_class"),
          (col("s").cast("double") /
            (col("n_class") * col("n_total") * 9).cast("double"))
            .as("t_closeness"))
        .orderBy("c_nationkey", "c_mktsegment")
    }, Some("""
      WITH c AS (SELECT c_nationkey, c_mktsegment,
          (CAST(CAST(c_acctbal AS DECIMAL(10,2)) * 100 AS BIGINT)
           + 100000) // 110000 AS b
        FROM customer),
      g AS (SELECT b, COUNT(*) AS gb FROM c GROUP BY 1),
      tot AS (SELECT COUNT(*) AS n_total FROM c),
      cls AS (SELECT c_nationkey, c_mktsegment, COUNT(*) AS n_class
              FROM c GROUP BY 1, 2),
      cb AS (SELECT c_nationkey, c_mktsegment, b, COUNT(*) AS cnt
             FROM c GROUP BY 1, 2, 3),
      spine AS (SELECT cls.c_nationkey, cls.c_mktsegment, cls.n_class,
          gs.b
        FROM cls CROSS JOIN (SELECT unnest(range(10)) AS b) gs),
      j AS (SELECT s.c_nationkey, s.c_mktsegment, s.n_class, s.b,
          tot.n_total,
          COALESCE(cb.cnt, 0) * tot.n_total - g.gb * s.n_class AS diff
        FROM spine s JOIN g USING (b) CROSS JOIN tot
        LEFT JOIN cb ON cb.c_nationkey = s.c_nationkey
          AND cb.c_mktsegment = s.c_mktsegment AND cb.b = s.b),
      cum AS (SELECT c_nationkey, c_mktsegment, n_class, n_total, b,
          SUM(diff) OVER (PARTITION BY c_nationkey, c_mktsegment
            ORDER BY b) AS d
        FROM j)
      SELECT c_nationkey, c_mktsegment, n_class,
        CAST(CAST(SUM(ABS(d)) AS BIGINT) AS DOUBLE)
          / CAST(n_class * n_total * 9 AS DOUBLE) AS t_closeness
      FROM cum WHERE b < 9
      GROUP BY c_nationkey, c_mktsegment, n_class, n_total
      ORDER BY c_nationkey, c_mktsegment""")),

    // Exact p50/p90/p99 of l_extendedprice (as cents) WITHOUT a global
    // sort — ops.Select's two-pass histogram selection: a 2^12-grain
    // bucket histogram (metadata-sized, the only driver state) locates
    // each rank's bucket + residual; one filtered scan resolves the
    // exact value inside the hit buckets. The full-sort alternative
    // (orderBy.limit / rank windows) range-shuffles the entire column;
    // this shuffles only hit-bucket value counts. The oracle takes the
    // opposite algorithm: a global ROW_NUMBER over the sorted column.
    ("q371_exact_percentile_select", (s: SparkSession, d: String) => {
      val cents = t(s, d, "lineitem").select(
        (Exact.dec(col("l_extendedprice"), 10) * 100).cast("long")
          .as("cents"))
      val n = cents.count() // one scalar — metadata, not a data path
      val ks = Seq(("p50", 50L), ("p90", 90L), ("p99", 99L))
        .map { case (l, p) => (l, (n * p + 99L) / 100L) }
      graft.ops.Select.kthSmallest(s, cents, "cents", shift = 12, ks)
        .withColumnRenamed("value", "value_cents")
    }, Some("""
      WITH t AS (SELECT CAST(CAST(l_extendedprice AS DECIMAL(10,2)) * 100
          AS BIGINT) AS c FROM lineitem),
      r AS (SELECT c, ROW_NUMBER() OVER (ORDER BY c) AS rn FROM t),
      n AS (SELECT COUNT(*) AS cnt FROM t),
      ks AS (SELECT label, (cnt * p + 99) // 100 AS k
        FROM (VALUES ('p50', 50), ('p90', 90), ('p99', 99)) q(label, p)
        CROSS JOIN n)
      SELECT ks.label, ks.k, r.c AS value_cents
      FROM ks JOIN r ON r.rn = ks.k
      ORDER BY ks.k""")),

    // Kaplan-Meier survival curve — time from a user's first event to
    // first purchase, right-censored at the corpus horizon — with the
    // product-limit estimator in SCALED-INTEGER arithmetic: survival
    // starts at 10⁹ and steps s ← s·(n−d) div n at each event time, so
    // the whole curve replays exactly in a DuckDB recursive CTE (no
    // float products, no cross-engine rounding). The heavy part (per-
    // user durations, per-duration death/risk counts) is distributed;
    // the fold runs over the DAY-GRAIN curve — a metadata-sized array
    // in one `aggregate` HOF, the same two-level shape as q170's
    // bucket offsets. q297's risk sets are the instantaneous view;
    // this is the cumulative estimator built on them.
    ("q374_kaplan_meier", (s: SparkSession, d: String) => {
      val ev = t(s, d, "events")
        .select(col("user_id"), to_date(col("ts")).as("dy"),
          col("event_type"))
      val per = ev.groupBy("user_id").agg(min(col("dy")).as("d0"),
        min(when(col("event_type") === "purchase", col("dy"))).as("dp"))
      val gm = ev.agg(max(col("dy")).as("dmax"))
      val users = per.crossJoin(broadcast(gm))
        .select(
          when(col("dp").isNotNull, lit(1L)).otherwise(lit(0L))
            .as("event"),
          when(col("dp").isNotNull, datediff(col("dp"), col("d0")))
            .otherwise(datediff(col("dmax"), col("d0"))).as("dur"))
      val obs = users.groupBy("dur").agg(sum("event").as("d"),
        count(lit(1)).as("c"))
      val rows = obs.withColumn("n", sum("c").over(
          Window.orderBy(col("dur").desc)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .filter(col("d") > 0)
      rows.agg(array_sort(collect_list(
          struct(col("dur"), col("d"), col("n")))).as("a"))
        .select(expr("""
          aggregate(a,
            named_struct('s', CAST(1000000000 AS BIGINT),
              'out', CAST(array() AS
                ARRAY<STRUCT<dur: INT, d: BIGINT, n: BIGINT, surv: BIGINT>>)),
            (acc, x) -> named_struct(
              's', (acc.s * (x.n - x.d)) div x.n,
              'out', array_append(acc.out, named_struct('dur', x.dur,
                'd', x.d, 'n', x.n,
                'surv', (acc.s * (x.n - x.d)) div x.n))),
            acc -> acc.out) AS out"""))
        .select(explode(col("out")).as("r"))
        .select(col("r.dur").as("dur_days"), col("r.n").as("n_risk"),
          col("r.d").as("n_events"), col("r.surv").as("surv_scaled"))
        .orderBy("dur_days")
    }, Some("""
      WITH RECURSIVE ev AS (SELECT user_id, CAST(ts AS DATE) AS dy,
          event_type FROM events),
      per AS (SELECT user_id, MIN(dy) AS d0,
          MIN(CASE WHEN event_type = 'purchase' THEN dy END) AS dp
        FROM ev GROUP BY 1),
      gm AS (SELECT MAX(dy) AS dmax FROM ev),
      u AS (SELECT CASE WHEN dp IS NOT NULL THEN 1 ELSE 0 END AS event,
          CAST(CASE WHEN dp IS NOT NULL THEN date_diff('day', d0, dp)
            ELSE date_diff('day', d0, dmax) END AS INT) AS dur
        FROM per CROSS JOIN gm),
      obs AS (SELECT dur, CAST(SUM(event) AS BIGINT) AS d,
          COUNT(*) AS c FROM u GROUP BY 1),
      wn AS (SELECT dur, d,
          CAST(SUM(c) OVER (ORDER BY dur DESC) AS BIGINT) AS n FROM obs),
      rows_ AS (SELECT dur, d, n,
          ROW_NUMBER() OVER (ORDER BY dur) AS rn FROM wn WHERE d > 0),
      km(rn, sv) AS (SELECT 0, CAST(1000000000 AS BIGINT)
        UNION ALL SELECT CAST(r.rn AS INT),
          CAST((km.sv * (r.n - r.d)) // r.n AS BIGINT)
        FROM km JOIN rows_ r ON r.rn = km.rn + 1)
      SELECT r.dur AS dur_days, r.n AS n_risk, r.d AS n_events,
        km.sv AS surv_scaled
      FROM rows_ r JOIN km ON km.rn = r.rn ORDER BY dur_days""")),

    // Holt double exponential smoothing (level + linear trend,
    // α = β = 1/4) over the daily order-count series, in scaled-integer
    // arithmetic: state is held ×10⁶ and every update divides by 4 via
    // FLOOR(x/4) — division by a power of two on magnitudes < 2⁵³ is
    // EXACT in IEEE doubles, so Spark's floor(x/4) and DuckDB's
    // FLOOR(x/4) agree bit-for-bit including negative trends (where
    // integer `div` would truncate differently across engines). The
    // distributed part is the day-grain aggregation; the fold is one
    // `aggregate` HOF over the metadata-sized series, replayed as a
    // DuckDB recursive CTE. Output: per day, observed count, smoothed
    // level, trend, and the one-step-ahead forecast the PREVIOUS state
    // made for this day (the backtest residual source).
    ("q375_holt_smoothing", (s: SparkSession, d: String) => {
      val daily = t(s, d, "orders")
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("y"))
      daily.agg(array_sort(collect_list(struct(col("day"), col("y"))))
          .as("a"))
        .select(expr("""
          aggregate(a,
            named_struct('i', CAST(0 AS INT), 'l', CAST(0 AS BIGINT),
              'b', CAST(0 AS BIGINT),
              'out', CAST(array() AS ARRAY<STRUCT<day: DATE, y: BIGINT,
                level_s: BIGINT, trend_s: BIGINT, forecast_s: BIGINT>>)),
            (acc, x) -> CASE
              WHEN acc.i = 0 THEN named_struct(
                'i', 1, 'l', x.y * 1000000, 'b', CAST(0 AS BIGINT),
                'out', array_append(acc.out, named_struct('day', x.day,
                  'y', x.y, 'level_s', x.y * 1000000,
                  'trend_s', CAST(0 AS BIGINT),
                  'forecast_s', CAST(NULL AS BIGINT))))
              ELSE named_struct(
                'i', acc.i + 1,
                'l', CAST(FLOOR((x.y * 1000000 + 3 * (acc.l + acc.b)) / 4)
                  AS BIGINT),
                'b', CAST(FLOOR((CAST(FLOOR((x.y * 1000000
                    + 3 * (acc.l + acc.b)) / 4) AS BIGINT) - acc.l
                    + 3 * acc.b) / 4) AS BIGINT),
                'out', array_append(acc.out, named_struct('day', x.day,
                  'y', x.y,
                  'level_s', CAST(FLOOR((x.y * 1000000
                    + 3 * (acc.l + acc.b)) / 4) AS BIGINT),
                  'trend_s', CAST(FLOOR((CAST(FLOOR((x.y * 1000000
                    + 3 * (acc.l + acc.b)) / 4) AS BIGINT) - acc.l
                    + 3 * acc.b) / 4) AS BIGINT),
                  'forecast_s', acc.l + acc.b)))
              END,
            acc -> acc.out) AS out"""))
        .select(explode(col("out")).as("r"))
        .select(date_format(col("r.day"), "yyyy-MM-dd").as("day"),
          col("r.y").as("y"), col("r.level_s").as("level_s"),
          col("r.trend_s").as("trend_s"),
          col("r.forecast_s").as("forecast_s"))
        .orderBy("day")
    }, Some("""
      WITH RECURSIVE daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day, COUNT(*) AS y
        FROM orders GROUP BY 1),
      seq AS (SELECT day, y, ROW_NUMBER() OVER (ORDER BY day) AS rn
        FROM daily),
      holt(rn, l, b) AS (
        SELECT 1, (SELECT y * 1000000 FROM seq WHERE rn = 1),
          CAST(0 AS BIGINT)
        UNION ALL
        SELECT CAST(s.rn AS INT),
          CAST(FLOOR((s.y * 1000000 + 3 * (h.l + h.b)) / 4) AS BIGINT),
          CAST(FLOOR((CAST(FLOOR((s.y * 1000000 + 3 * (h.l + h.b)) / 4)
            AS BIGINT) - h.l + 3 * h.b) / 4) AS BIGINT)
        FROM holt h JOIN seq s ON s.rn = h.rn + 1)
      SELECT strftime(s.day, '%Y-%m-%d') AS day, s.y AS y,
        h.l AS level_s, h.b AS trend_s,
        CASE WHEN s.rn = 1 THEN NULL
          ELSE hp.l + hp.b END AS forecast_s
      FROM seq s JOIN holt h ON h.rn = s.rn
      LEFT JOIN holt hp ON hp.rn = s.rn - 1
      ORDER BY day""")),

    // CHAINED stateful operators in one streaming query (Spark 4's
    // multiple-stateful-operator support): a daily windowed count feeds
    // a SECOND windowed aggregation over the window column (weekly
    // total/max/days per event type), both in append mode under one
    // shared watermark — the two-level streaming rollup that previously
    // required two queries with an intermediate sink (q179's shape).
    // REAL micro-batch execution through the memory sink; the oracle
    // replays the append-mode close rules: daily windows emit when
    // d_end ≤ wm, weekly windows when w_end ≤ wm, wm = max(ts) − 1 day.
    ("q377_chained_stateful", (s: SparkSession, d: String) => {
      val daily = Tables.stream(s, d, "events").withWatermark("ts", "1 day")
        .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val weekly = daily
        .groupBy(window(col("w"), "7 days").as("ww"), col("event_type"))
        .agg(sum("n").as("total"), max("n").as("max_daily"),
          count(lit(1)).as("n_days"))
        .select(date_format(col("ww.start"), "yyyy-MM-dd").as("week_start"),
          col("event_type"), col("total"), col("max_daily"), col("n_days"))
      Streams.drain(weekly, "append", sized(s, d))
        .orderBy("week_start", "event_type")
    }, Some("""
      WITH wm AS (SELECT MAX(ts) - INTERVAL 1 DAY AS wm FROM events),
      daily AS (SELECT date_trunc('day', ts) AS d0, event_type,
          COUNT(*) AS n
        FROM events GROUP BY 1, 2),
      cd AS (SELECT daily.* FROM daily, wm
        WHERE d0 + INTERVAL 1 DAY <= wm.wm),
      wk AS (SELECT TIMESTAMP '1970-01-01'
            + (CAST(FLOOR(epoch(d0) / 604800) AS BIGINT) * 604800)
              * INTERVAL 1 SECOND AS w0,
          event_type, CAST(SUM(n) AS BIGINT) AS total,
          CAST(MAX(n) AS BIGINT) AS max_daily, COUNT(*) AS n_days
        FROM cd GROUP BY 1, 2)
      SELECT strftime(w0, '%Y-%m-%d') AS week_start, event_type, total,
        max_daily, n_days
      FROM wk, wm WHERE w0 + INTERVAL 7 DAY <= wm.wm
      ORDER BY week_start, event_type""")),

    // Isotonic regression (the PAVA fit q238's rank calibration does
    // NOT give) via the MINIMAX identity — fhat(i) = max_{j≤i} min_{k≥i}
    // avg(y, bins j..k) — in EXACT RATIONAL arithmetic: the corpus scan
    // is one groupBy into ~50 length bins (P(lang='en') vs doc-length
    // bin); the fit runs on the bin relation (metadata-sized), where
    // the O(bins³) (j,i,k) triples are explicit rows and every
    // min/max-of-fractions picks its row by the scaled-integer key
    // num·2⁴⁰ div den (injective while den² < 2⁴⁰ — bins hold corpus
    // counts, so document the bound; ties broken by index). No floats
    // anywhere; output in basis points. The monotone output contract is
    // spec-checked.
    ("q378_isotonic_fit", (s: SparkSession, d: String) => {
      val bins = t(s, d, "documents")
        .select(expr("n_chars div 10").as("b"),
          (col("lang") === "en").cast("long").as("y"))
        .groupBy("b").agg(count(lit(1)).as("w"), sum("y").as("p"))
      val pref = materialize(bins // bin relation: metadata-sized
        .withColumn("pnIn", sum("p").over(Window.orderBy("b")))
        .withColumn("pwIn", sum("w").over(Window.orderBy("b")))
        .withColumn("pnEx", col("pnIn") - col("p"))
        .withColumn("pwEx", col("pwIn") - col("w"))).df
      val pairs = pref.select(col("b").as("j"), col("pnEx"), col("pwEx"))
        .join(pref.select(col("b").as("k"), col("pnIn"), col("pwIn")),
          col("j") <= col("k"))
        .select(col("j"), col("k"),
          (col("pnIn") - col("pnEx")).as("num"),
          (col("pwIn") - col("pwEx")).as("den"))
        .withColumn("skey", expr("num * 1099511627776 div den"))
      val triples = pairs.join(pref.select(col("b").as("i")),
        col("j") <= col("i") && col("i") <= col("k"))
      val minK = triples.withColumn("rn", row_number().over(
          Window.partitionBy("j", "i").orderBy(col("skey"), col("k"))))
        .filter(col("rn") === 1)
        .select(col("j"), col("i"), col("num"), col("den"), col("skey"))
      val fit = minK.withColumn("rn", row_number().over(
          Window.partitionBy("i").orderBy(col("skey").desc, col("j"))))
        .filter(col("rn") === 1)
        .select(col("i").as("b"), col("num"), col("den"))
      pref.select("b", "w", "p").join(fit, Seq("b"))
        .select(col("b").as("bin"), col("w").as("n_docs"),
          col("p").as("n_en"),
          expr("num * 10000 div den").as("fit_bp"))
        .orderBy("bin")
    }, Some("""
      WITH bins AS (SELECT n_chars // 10 AS b, COUNT(*) AS w,
          CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
            AS p
        FROM documents GROUP BY 1),
      pref AS (SELECT b, w, p,
          CAST(SUM(p) OVER (ORDER BY b) AS BIGINT) AS pnIn,
          CAST(SUM(w) OVER (ORDER BY b) AS BIGINT) AS pwIn,
          CAST(SUM(p) OVER (ORDER BY b) - p AS BIGINT) AS pnEx,
          CAST(SUM(w) OVER (ORDER BY b) - w AS BIGINT) AS pwEx
        FROM bins),
      pairs AS (SELECT j.b AS j, k.b AS k,
          k.pnIn - j.pnEx AS num, k.pwIn - j.pwEx AS den,
          (k.pnIn - j.pnEx) * 1099511627776 // (k.pwIn - j.pwEx) AS skey
        FROM pref j JOIN pref k ON j.b <= k.b),
      triples AS (SELECT p.*, i.b AS i FROM pairs p
        JOIN pref i ON p.j <= i.b AND i.b <= p.k),
      mink AS (SELECT j, i, num, den, skey FROM (
          SELECT j, i, num, den, skey, ROW_NUMBER() OVER (
            PARTITION BY j, i ORDER BY skey, k) AS rn FROM triples)
        WHERE rn = 1),
      fit AS (SELECT i AS b, num, den FROM (
          SELECT i, j, num, den, ROW_NUMBER() OVER (
            PARTITION BY i ORDER BY skey DESC, j) AS rn FROM mink)
        WHERE rn = 1)
      SELECT p.b AS bin, p.w AS n_docs, p.p AS n_en,
        CAST(f.num * 10000 // f.den AS BIGINT) AS fit_bp
      FROM pref p JOIN fit f ON p.b = f.b
      ORDER BY bin"""))
  ) ++ Seq[(String, Q, Option[String])](

    // Kruskal-Wallis H — the k-sample rank test (nonparametric one-way
    // ANOVA), completing the stats family beside the two-sample MWU
    // (q240) and Welch t (q283): do order totals differ in location
    // across the five order priorities? The q240/q215 doubled-rank
    // discipline keeps every rank integer under ties (r2 = 2·midrank
    // from the value-count pre-aggregate); H is integerized with
    // explicit floor divisions — 12·R_g² = 3·R2_g², so
    // term_g = R2_g² div n_g in decimal-widened arithmetic (R2_g²
    // overflows int64 past ~60k rows), then
    // H_scaled = (3·10⁶·Σterm) div (n(n+1)) − 3·10⁶(n+1).
    // The corpus crosses one value-count aggregate; the rank window
    // runs on the value-cardinality-sized relation (q240 discipline).
    ("q381_kruskal_wallis", (s: SparkSession, d: String) => {
      val v = t(s, d, "orders").select(
        col("o_orderpriority").as("grp"),
        (Exact.dec(col("o_totalprice"), 12) * 100).cast("long").as("v"))
      val cvg = v.groupBy("v", "grp").agg(count(lit(1)).as("c"))
      val cv = cvg.groupBy("v").agg(sum(col("c")).as("cnt"))
      val r2 = cv.withColumn("r2",
        lit(2L) * coalesce(sum(col("cnt")).over(Window.orderBy("v")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)) +
          col("cnt") + 1)
      val byGrp = cvg.join(r2, "v").groupBy("grp")
        .agg(sum(col("c")).as("n_g"), sum(col("c") * col("r2")).as("r2_sum"))
        .withColumn("term", expr(
          "(CAST(r2_sum AS DECIMAL(38,0)) * r2_sum) div n_g"))
      val tot = byGrp.agg(sum(col("n_g")).as("n"), sum(col("term")).as("ts"))
        .select(col("n"), expr(
          "(CAST(3000000 AS DECIMAL(38,0)) * ts) div (n * (n + 1))" +
            " - 3000000 * (n + 1)").as("h_scaled"))
      byGrp.select("grp", "n_g", "r2_sum")
        .crossJoin(broadcast(tot))
        .orderBy("grp")
    }, Some("""
      WITH v AS (SELECT o_orderpriority AS grp,
          CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS v
        FROM orders),
      cvg AS (SELECT v, grp, COUNT(*) AS c FROM v GROUP BY 1, 2),
      cv AS (SELECT v, CAST(SUM(c) AS BIGINT) AS cnt FROM cvg GROUP BY 1),
      r AS (SELECT v, cnt,
          2 * COALESCE(SUM(cnt) OVER (ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            + cnt + 1 AS r2
        FROM cv),
      g AS (SELECT grp, CAST(SUM(c) AS BIGINT) AS n_g,
          CAST(SUM(c * r2) AS BIGINT) AS r2_sum
        FROM cvg JOIN r USING (v) GROUP BY 1),
      gt AS (SELECT grp, n_g, r2_sum,
          CAST((CAST(r2_sum AS HUGEINT) * r2_sum) // n_g AS BIGINT)
            AS term
        FROM g),
      tot AS (SELECT CAST(SUM(n_g) AS BIGINT) AS n,
          CAST((CAST(3000000 AS HUGEINT) * SUM(term))
              // (SUM(n_g) * (SUM(n_g) + 1))
            - 3000000 * (SUM(n_g) + 1) AS BIGINT) AS h_scaled
        FROM gt)
      SELECT grp, n_g, r2_sum, n, h_scaled
      FROM gt CROSS JOIN tot ORDER BY grp"""))
  ) ++ Seq[(String, Q, Option[String])](

    // Exact greedy decision-stump split (the CART / XGBoost exact-mode
    // inner loop): best threshold on the event value for predicting
    // purchase, by weighted Gini impurity over ALL candidate splits.
    // One value-count pre-aggregate (candidate relation is
    // value-cardinality-sized — for continuous features at 100 TB you
    // bin first, q153's equi-depth histogram), one rank window for the
    // prefix sums, and a partial-aggregable min(struct) argmin.
    // Impurity is integerized: n·Gini_side = (n² − a² − b²)·10⁶ div n
    // in decimal-widened arithmetic, so the argmin replays exactly.
    ("q383_gini_stump", (s: SparkSession, d: String) => {
      val ev = Tables(s, d, "events").select(col("value").as("v"),
        (col("event_type") === "purchase").cast("long").as("y"))
      val cand = ev.groupBy("v").agg(count(lit(1)).as("cnt"),
        sum(col("y")).as("pos"))
      val tot = cand.agg(sum(col("cnt")).as("n"), sum(col("pos")).as("p"))
      val pre = cand
        .withColumn("nl", sum(col("cnt")).over(Window.orderBy("v")))
        .withColumn("al", sum(col("pos")).over(Window.orderBy("v")))
        .crossJoin(broadcast(tot))
        .filter(col("nl") < col("n"))
        .select(col("v"), col("nl"), col("al"),
          (col("n") - col("nl")).as("nr"), (col("p") - col("al")).as("ar"))
        .withColumn("gini_scaled",
          expr("""(CAST(nl AS DECIMAL(38,0)) * nl - CAST(al AS DECIMAL(38,0)) * al
              - CAST(nl - al AS DECIMAL(38,0)) * (nl - al)) * 1000000 div nl""") +
            expr("""(CAST(nr AS DECIMAL(38,0)) * nr - CAST(ar AS DECIMAL(38,0)) * ar
              - CAST(nr - ar AS DECIMAL(38,0)) * (nr - ar)) * 1000000 div nr"""))
      pre.orderBy(col("gini_scaled"), col("v")).limit(5)
        .select("v", "nl", "al", "nr", "ar", "gini_scaled")
    }, Some("""
      WITH ev AS (SELECT value AS v,
          CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events),
      cand AS (SELECT v, COUNT(*) AS cnt, CAST(SUM(y) AS BIGINT) AS pos
        FROM ev GROUP BY 1),
      tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n,
          CAST(SUM(pos) AS BIGINT) AS p FROM cand),
      pre AS (SELECT v,
          CAST(SUM(cnt) OVER (ORDER BY v) AS BIGINT) AS nl,
          CAST(SUM(pos) OVER (ORDER BY v) AS BIGINT) AS al
        FROM cand),
      sc AS (SELECT v, nl, al, n - nl AS nr, p - al AS ar,
          CAST((CAST(nl AS HUGEINT) * nl - CAST(al AS HUGEINT) * al
              - CAST(nl - al AS HUGEINT) * (nl - al)) * 1000000 // nl
            + (CAST(n - nl AS HUGEINT) * (n - nl)
              - CAST(p - al AS HUGEINT) * (p - al)
              - CAST(n - nl - p + al AS HUGEINT) * (n - nl - p + al))
              * 1000000 // (n - nl) AS BIGINT) AS gini_scaled
        FROM pre CROSS JOIN tot WHERE nl < n)
      SELECT v, nl, al, nr, ar, gini_scaled
      FROM sc ORDER BY gini_scaled, v LIMIT 5""")),

    // Bradley-Terry pairwise strength fit (Hunter 2004 MM algorithm,
    // integerized): event types "play matches" — within each user, type
    // a beats type b when the user's exact total value on a exceeds b.
    // The corpus-sized work is ONE per-(user, type) aggregate; the
    // pairing and the MM rounds run on the k²-row win matrix
    // (metadata). Each round: d_i = Σ_j (n_ij·10¹²) div (s_i+s_j),
    // s'_i = (W_i·10¹⁸) div d_i, renormalized to max 10⁶ — all
    // explicit floor divisions, replayed verbatim.
    ("q384_bradley_terry", (s: SparkSession, d: String) => {
      val per = Tables(s, d, "events")
        .groupBy(col("user_id"), col("event_type").as("ty"))
        .agg(sum(Exact.dec(col("value"), 18) * 100).cast("long").as("c"))
      val a = per.select(col("user_id"), col("ty").as("ta"), col("c").as("ca"))
      val b = per.select(col("user_id"), col("ty").as("tb"), col("c").as("cb"))
      // k²-row win matrix: metadata-sized
      val wins = materialize(a.join(b, Seq("user_id"))
        .filter(col("ta") =!= col("tb") && col("ca") > col("cb"))
        .groupBy(col("ta").as("wi"), col("tb").as("wj"))
        .agg(count(lit(1)).as("w"))).df
      val nij = wins.select(col("wi").as("i"), col("wj").as("j"), col("w"))
        .unionAll(wins.select(col("wj").as("i"), col("wi").as("j"),
          col("w")))
        .groupBy("i", "j").agg(sum(col("w")).as("nij"))
      val wi = wins.groupBy(col("wi").as("i")).agg(sum(col("w")).as("win"))
      val init = Bsp.lazyState(wi.select(col("i"), lit(1000000L).as("s")))
      val st = Bsp(init, 3) { (st, _) =>
        val d0 = nij
          .join(st.select(col("i"), col("s").as("si")), "i")
          .join(st.select(col("i").as("j"), col("s").as("sj")), "j")
          .groupBy("i")
          .agg(sum(expr(
            // decimal-widened: bare long nij * 1e12 silently wraps in
            // non-ANSI Spark once nij > ~9.2M (plausible at sf >= 1)
            // while the oracle's BIGINT product errors — q383/q387
            // discipline.
            "(CAST(nij AS DECIMAL(38,0)) * 1000000000000) div (si + sj)"))
            .as("den"))
        val raw = wi.join(d0, "i")
          .select(col("i"), expr(
            "(CAST(win AS DECIMAL(38,0)) * 1000000000000000000) div den")
            .as("sr"))
        val mx = raw.agg(max(col("sr")).as("mx"))
        raw.crossJoin(broadcast(mx))
          .select(col("i"),
            expr("greatest(1L, (sr * 1000000L) div mx)").as("s"))
      }.state.df
      wi.join(st, "i").select(col("i").as("event_type"), col("win"),
          col("s").as("strength_scaled"))
        .orderBy(col("strength_scaled").desc, col("event_type"))
    }, Some {
      val rounds = (1 to 3).map { r =>
        s"""d$r AS (SELECT n.i,
            SUM((CAST(n.nij AS HUGEINT) * 1000000000000) // (a.s + b.s)) AS den
          FROM nij n JOIN s${r - 1} a ON n.i = a.i
          JOIN s${r - 1} b ON n.j = b.i GROUP BY 1),
        r$r AS (SELECT w.i,
            (CAST(w.win AS HUGEINT) * 1000000000000000000) // d.den AS sr
          FROM wi w JOIN d$r d ON w.i = d.i),
        m$r AS (SELECT MAX(sr) AS mx FROM r$r),
        s$r AS (SELECT i,
            GREATEST(1, CAST((sr * 1000000) // mx AS BIGINT)) AS s
          FROM r$r CROSS JOIN m$r)"""
      }.mkString(",\n      ")
      s"""
      WITH per AS (SELECT user_id, event_type AS ty,
          CAST(SUM(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT) AS c
        FROM events GROUP BY 1, 2),
      wins AS (SELECT a.ty AS wi, b.ty AS wj, COUNT(*) AS w
        FROM per a JOIN per b
          ON a.user_id = b.user_id AND a.ty <> b.ty AND a.c > b.c
        GROUP BY 1, 2),
      nij AS (SELECT i, j, CAST(SUM(w) AS BIGINT) AS nij FROM (
          SELECT wi AS i, wj AS j, w FROM wins
          UNION ALL SELECT wj, wi, w FROM wins) GROUP BY 1, 2),
      wi AS (SELECT wi AS i, CAST(SUM(w) AS BIGINT) AS win
        FROM wins GROUP BY 1),
      s0 AS (SELECT i, CAST(1000000 AS BIGINT) AS s FROM wi),
      $rounds
      SELECT w.i AS event_type, w.win, s.s AS strength_scaled
      FROM wi w JOIN s3 s ON w.i = s.i
      ORDER BY strength_scaled DESC, event_type"""
    }),

    // Collation-aware aggregation (Spark 4 collations): distinct-brand
    // counting under UTF8_LCASE vs binary collation over a
    // deterministically case-mangled brand column — the collation is
    // load-bearing in the DISTINCT comparator itself (not a lower()
    // rewrite on the Spark side); the oracle models UTF8_LCASE with
    // lower(), equivalent on ASCII. Representative per group = binary
    // MIN, deterministic in both engines.
    ("q385_collation_group", (s: SparkSession, d: String) => {
      val p = Tables(s, d, "part").select(
        when(col("p_partkey") % 2 === 0, upper(col("p_brand")))
          .otherwise(lower(col("p_brand"))).as("brand"),
        col("p_retailprice"))
      p.groupBy(expr("collate(brand, 'UTF8_LCASE')").as("bkey"))
        .agg(min(col("brand")).as("brand_rep"),
          count(lit(1)).as("n"),
          countDistinct(col("brand")).as("n_case_variants"),
          sum(Exact.dec(col("p_retailprice"), 12) * 100).cast("long")
            .as("price_cents"))
        .select("brand_rep", "n", "n_case_variants", "price_cents")
        .orderBy("brand_rep")
    }, Some("""
      WITH p AS (SELECT CASE WHEN p_partkey % 2 = 0 THEN upper(p_brand)
          ELSE lower(p_brand) END AS brand, p_retailprice
        FROM part)
      SELECT MIN(brand) AS brand_rep, COUNT(*) AS n,
        COUNT(DISTINCT brand) AS n_case_variants,
        CAST(SUM(CAST(p_retailprice AS DECIMAL(12,2)) * 100) AS BIGINT)
          AS price_cents
      FROM p GROUP BY lower(brand) ORDER BY brand_rep"""))
  ) ++ Seq[(String, Q, Option[String])](

    // Pairwise Pearson correlation matrix over the four lineitem
    // measures in ONE corpus pass — the multi-column completion of
    // q205's single regression: every Σx, Σx², Σxy accumulates as an
    // exact decimal-widened integer on scaled cents (Σx² overflows
    // int64 at sf ≥ ~0.05), the 6 pairs unfold from the one-row
    // aggregate (metadata-sized explode, no second scan, no per-pair
    // jobs like Dataset.stat.corr would issue), and the only floats
    // are the closing IEEE-identical divide/sqrt on identical exact
    // integers.
    ("q387_corr_matrix", (s: SparkSession, d: String) => {
      val cents = Seq("l_quantity" -> "q", "l_extendedprice" -> "e",
        "l_discount" -> "d", "l_tax" -> "t")
      val base = Tables(s, d, "lineitem").select(cents.map { case (c, a) =>
        (Exact.dec(col(c), 12) * 100).cast("long").as(a) }: _*)
      val aggs = Seq(count(lit(1)).as("n")) ++
        cents.map(_._2).flatMap { a => Seq(
          sum(col(a)).as(s"s_$a"),
          Exact.sumProduct(col(a), col(a)).as(s"ss_$a")) } ++
        cents.map(_._2).combinations(2).map { case Seq(a, b) =>
          Exact.sumProduct(col(a), col(b)).as(s"sp_${a}$b") }.toSeq
      val one = base.agg(aggs.head, aggs.tail: _*)
      val rows = cents.map(_._2).combinations(2).map { case Seq(a, b) =>
        struct(lit(s"${a}~$b").as("pair"), col("n"),
          col(s"s_$a").as("sx"), col(s"s_$b").as("sy"),
          col(s"ss_$a").as("sxx"), col(s"ss_$b").as("syy"),
          col(s"sp_${a}$b").as("sxy"))
      }.toSeq
      one.select(explode(array(rows: _*)).as("p")).select("p.*")
        .withColumn("num", expr(
          "CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy"))
        .withColumn("dx", expr(
          "CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx"))
        .withColumn("dy", expr(
          "CAST(n AS DECIMAL(38,0)) * syy - CAST(sy AS DECIMAL(38,0)) * sy"))
        .select(col("pair"), col("n"),
          (col("num").cast("double") /
            sqrt(col("dx").cast("double") * col("dy").cast("double")))
            .as("corr"))
        .orderBy("pair")
    }, Some("""
      WITH b AS (SELECT
          CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT) AS q,
          CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS e,
          CAST(CAST(l_discount AS DECIMAL(12,2)) * 100 AS BIGINT) AS d,
          CAST(CAST(l_tax AS DECIMAL(12,2)) * 100 AS BIGINT) AS t
        FROM lineitem),
      a AS (SELECT COUNT(*) AS n,
          SUM(q) AS s_q, SUM(e) AS s_e, SUM(d) AS s_d, SUM(t) AS s_t,
          SUM(CAST(q AS HUGEINT) * q) AS ss_q,
          SUM(CAST(e AS HUGEINT) * e) AS ss_e,
          SUM(CAST(d AS HUGEINT) * d) AS ss_d,
          SUM(CAST(t AS HUGEINT) * t) AS ss_t,
          SUM(CAST(q AS HUGEINT) * e) AS sp_qe,
          SUM(CAST(q AS HUGEINT) * d) AS sp_qd,
          SUM(CAST(q AS HUGEINT) * t) AS sp_qt,
          SUM(CAST(e AS HUGEINT) * d) AS sp_ed,
          SUM(CAST(e AS HUGEINT) * t) AS sp_et,
          SUM(CAST(d AS HUGEINT) * t) AS sp_dt
        FROM b),
      m AS (
        SELECT 'q~e' AS pair, n, s_q AS sx, s_e AS sy, ss_q AS sxx,
          ss_e AS syy, sp_qe AS sxy FROM a
        UNION ALL SELECT 'q~d', n, s_q, s_d, ss_q, ss_d, sp_qd FROM a
        UNION ALL SELECT 'q~t', n, s_q, s_t, ss_q, ss_t, sp_qt FROM a
        UNION ALL SELECT 'e~d', n, s_e, s_d, ss_e, ss_d, sp_ed FROM a
        UNION ALL SELECT 'e~t', n, s_e, s_t, ss_e, ss_t, sp_et FROM a
        UNION ALL SELECT 'd~t', n, s_d, s_t, ss_d, ss_t, sp_dt FROM a)
      SELECT pair, n,
        CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
          / sqrt(CAST(CAST(n AS HUGEINT) * sxx
              - CAST(sx AS HUGEINT) * sx AS DOUBLE)
            * CAST(CAST(n AS HUGEINT) * syy
              - CAST(sy AS HUGEINT) * sy AS DOUBLE)) AS corr
      FROM m ORDER BY pair"""))
  ) ++ Seq[(String, Q, Option[String])](

    // Kendall's tau-b rank correlation (grid-binned, exact): quantity
    // vs extended price collapse to a ≤ 11×51 cell grid in ONE corpus
    // aggregate; concordant/discordant/tied pair counts then come from
    // a dominance join on the metadata-sized grid — never a pairwise
    // corpus join (naive Kendall is O(n²)). All counts exact BIGINT
    // (pair products stay < 2⁶³ through sf 1); the only float is the
    // closing tau-b = (C−D)/√((n0−n1)(n0−n2)) on identical ints.
    // Complements Spearman (q215): same monotone-association family,
    // concordance semantics instead of rank covariance.
    ("q388_kendall_tau", (s: SparkSession, d: String) => {
      val cells = materialize(Tables(s, d, "lineitem").select( // grid: metadata-sized
          expr("CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT)" +
            " div 500").as("xb"),
          expr("CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100" +
            " AS BIGINT) div 200000").as("yb"))
        .groupBy("xb", "yb").agg(count(lit(1)).as("c"))).df
      val a = cells.select(col("xb").as("ax"), col("yb").as("ay"),
        col("c").as("ac"))
      val b = cells.select(col("xb").as("bx"), col("yb").as("by"),
        col("c").as("bc"))
      val conc = a.join(b, col("bx") < col("ax") && col("by") < col("ay"))
        .agg(coalesce(sum(col("ac") * col("bc")), lit(0L)).as("c_pairs"))
      val disc = a.join(b, col("bx") < col("ax") && col("by") > col("ay"))
        .agg(coalesce(sum(col("ac") * col("bc")), lit(0L)).as("d_pairs"))
      val tx = cells.groupBy("xb").agg(sum(col("c")).as("t"))
        .agg(sum(expr("t * (t - 1) div 2")).as("tie_x"))
      val ty = cells.groupBy("yb").agg(sum(col("c")).as("t"))
        .agg(sum(expr("t * (t - 1) div 2")).as("tie_y"))
      val tc = cells.agg(sum(col("c")).as("n"),
        sum(expr("c * (c - 1) div 2")).as("tie_xy"))
      conc.crossJoin(disc).crossJoin(broadcast(tx))
        .crossJoin(broadcast(ty)).crossJoin(broadcast(tc))
        .withColumn("n0", expr("n * (n - 1) div 2"))
        .select(col("n"), col("c_pairs"), col("d_pairs"),
          col("tie_x"), col("tie_y"), col("n0"),
          ((col("c_pairs") - col("d_pairs")).cast("double") /
            sqrt((col("n0") - col("tie_x")).cast("double") *
              (col("n0") - col("tie_y")).cast("double"))).as("tau_b"))
    }, Some("""
      WITH cells AS (SELECT
          CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT)
            // 500 AS xb,
          CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
            // 200000 AS yb,
          COUNT(*) AS c
        FROM lineitem GROUP BY 1, 2),
      conc AS (SELECT COALESCE(CAST(SUM(a.c * b.c) AS BIGINT), 0)
          AS c_pairs
        FROM cells a JOIN cells b ON b.xb < a.xb AND b.yb < a.yb),
      disc AS (SELECT COALESCE(CAST(SUM(a.c * b.c) AS BIGINT), 0)
          AS d_pairs
        FROM cells a JOIN cells b ON b.xb < a.xb AND b.yb > a.yb),
      tx AS (SELECT CAST(SUM(t * (t - 1) // 2) AS BIGINT) AS tie_x
        FROM (SELECT SUM(c) AS t FROM cells GROUP BY xb)),
      ty AS (SELECT CAST(SUM(t * (t - 1) // 2) AS BIGINT) AS tie_y
        FROM (SELECT SUM(c) AS t FROM cells GROUP BY yb)),
      tc AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells)
      SELECT n, c_pairs, d_pairs, tie_x, tie_y,
        n * (n - 1) // 2 AS n0,
        CAST(c_pairs - d_pairs AS DOUBLE)
          / sqrt(CAST(n * (n - 1) // 2 - tie_x AS DOUBLE)
            * CAST(n * (n - 1) // 2 - tie_y AS DOUBLE)) AS tau_b
      FROM conc, disc, tx, ty, tc"""))
  ) ++ Seq[(String, Q, Option[String])](

    // Classical additive time-series decomposition (trend + seasonal +
    // residual) of daily revenue, all-integer: centered 7-row moving
    // average for trend (cents div 7 — positive, so truncation =
    // floor), per-day-of-week mean of the detrended series for the
    // seasonal index (detrended is SIGNED — Spark's `div` truncates
    // toward zero while DuckDB's `//` floors, so the oracle wraps the
    // division in the sign CASE, the q376 discipline), residual by
    // subtraction. One corpus aggregate to day grain; every window
    // runs on the calendar-sized relation. DOW = epoch-days mod 7,
    // identical integer arithmetic in both engines (dayofweek()
    // numbering differs between them).
    ("q389_seasonal_decompose", (s: SparkSession, d: String) => {
      val daily = Tables(s, d, "orders")
        .groupBy(col("o_orderdate").cast("date").as("day"))
        .agg((Exact.sum(Exact.dec(col("o_totalprice"), 12)) * 100).cast("long")
          .as("cents"))
      val w = Window.orderBy("day").rowsBetween(-3, 3)
      val tr = materialize(daily // day-grain relation
        .withColumn("w_sum", sum(col("cents")).over(w))
        .withColumn("w_n", count(lit(1)).over(w))
        .filter(col("w_n") === 7)
        .withColumn("trend_c", expr("w_sum div 7"))
        .withColumn("detr_c", col("cents") - col("trend_c"))
        .withColumn("dow",
          pmod(datediff(col("day"), lit("1970-01-01").cast("date")), lit(7)))).df
      val seas = tr.groupBy("dow")
        .agg(sum(col("detr_c")).as("sd"), count(lit(1)).as("cd"))
        .select(col("dow"), expr("sd div cd").as("seas_c"))
      tr.join(broadcast(seas), "dow")
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("cents"), col("trend_c"), col("detr_c"), col("seas_c"),
          (col("detr_c") - col("seas_c")).as("resid_c"))
        .orderBy("day")
    }, Some("""
      WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT)
            AS cents
        FROM orders GROUP BY 1),
      tr AS (SELECT day, cents,
          CAST(SUM(cents) OVER (ORDER BY day
            ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT) AS w_sum,
          COUNT(*) OVER (ORDER BY day
            ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS w_n
        FROM daily),
      dt AS (SELECT day, cents, w_sum // 7 AS trend_c,
          cents - w_sum // 7 AS detr_c,
          (day - DATE '1970-01-01') % 7 AS dow
        FROM tr WHERE w_n = 7),
      seas AS (SELECT dow,
          CASE WHEN SUM(detr_c) >= 0
            THEN CAST(SUM(detr_c) AS BIGINT) // COUNT(*)
            ELSE -(CAST(-SUM(detr_c) AS BIGINT) // COUNT(*)) END AS seas_c
        FROM dt GROUP BY 1)
      SELECT strftime(dt.day, '%Y-%m-%d') AS day, cents, trend_c, detr_c,
        seas_c, detr_c - seas_c AS resid_c
      FROM dt JOIN seas USING (dow) ORDER BY day""")),

    // Exact greedy depth-2 decision tree (the q383 stump recursed once
    // — the induction loop of every gradient-boosting library, in
    // relational form): root split by integerized Gini, then the best
    // split per child over the SAME pre-aggregated candidate relation
    // with the side indicator folded into the grouping key — the
    // second level costs one more window over the value-cardinality
    // relation, NOT a second corpus scan per node. Argmin per side is
    // min(struct), partial-aggregable.
    ("q390_tree_depth2", (s: SparkSession, d: String) => {
      val ev = Tables(s, d, "events").select(col("value").as("v"),
        (col("event_type") === "purchase").cast("long").as("y"))
      val cand = materialize(ev.groupBy("v").agg(count(lit(1)).as("cnt"),
        sum(col("y")).as("pos"))).df
      def gini(nl: String, al: String, nr: String, ar: String) =
        expr(s"""(CAST($nl AS DECIMAL(38,0)) * $nl
            - CAST($al AS DECIMAL(38,0)) * $al
            - CAST($nl - $al AS DECIMAL(38,0)) * ($nl - $al)) * 1000000
            div $nl""") +
          expr(s"""(CAST($nr AS DECIMAL(38,0)) * $nr
            - CAST($ar AS DECIMAL(38,0)) * $ar
            - CAST($nr - $ar AS DECIMAL(38,0)) * ($nr - $ar)) * 1000000
            div $nr""")
      def bestOver(df: DataFrame, grp: Seq[String]): DataFrame = {
        val w = Window.partitionBy(grp.map(col): _*).orderBy("v")
        val tots = df.groupBy(grp.map(col): _*)
          .agg(sum(col("cnt")).as("n"), sum(col("pos")).as("p"))
        val pre = df
          .withColumn("nl", sum(col("cnt")).over(w))
          .withColumn("al", sum(col("pos")).over(w))
          .join(tots, grp)
          .filter(col("nl") < col("n"))
          .withColumn("g", gini("nl", "al", "(n - nl)", "(p - al)"))
        pre.groupBy(grp.map(col): _*)
          .agg(min(struct(col("g"), col("v"), col("nl"), col("al"),
            col("n"), col("p"))).as("m"))
          .select(grp.map(col) :+ col("m.v").as("threshold") :+
            col("m.g").as("gini_scaled") :+ col("m.nl").as("n_left") :+
            (col("m.n") - col("m.nl")).as("n_right"): _*)
      }
      val root = materialize(bestOver(cand.withColumn("node", lit("root")),
        Seq("node"))).df
      val t0 = root.select(col("threshold").as("t0"))
      val sided = cand.crossJoin(broadcast(t0))
        .withColumn("node", when(col("v") <= col("t0"), "L").otherwise("R"))
      val children = bestOver(sided, Seq("node"))
      root.unionByName(children)
        .select("node", "threshold", "gini_scaled", "n_left", "n_right")
        .orderBy("node")
    }, Some("""
      WITH ev AS (SELECT value AS v,
          CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events),
      cand AS (SELECT v, COUNT(*) AS cnt, CAST(SUM(y) AS BIGINT) AS pos
        FROM ev GROUP BY 1),
      lab AS (SELECT 'root' AS node, v, cnt, pos FROM cand),
      pre0 AS (SELECT node, v,
          CAST(SUM(cnt) OVER (PARTITION BY node ORDER BY v) AS BIGINT)
            AS nl,
          CAST(SUM(pos) OVER (PARTITION BY node ORDER BY v) AS BIGINT)
            AS al,
          CAST(SUM(cnt) OVER (PARTITION BY node) AS BIGINT) AS n,
          CAST(SUM(pos) OVER (PARTITION BY node) AS BIGINT) AS p
        FROM lab),
      g0 AS (SELECT node, v, nl, al, n, p,
          (CAST(nl AS HUGEINT) * nl - CAST(al AS HUGEINT) * al
            - CAST(nl - al AS HUGEINT) * (nl - al)) * 1000000 // nl
          + (CAST(n - nl AS HUGEINT) * (n - nl)
            - CAST(p - al AS HUGEINT) * (p - al)
            - CAST(n - nl - p + al AS HUGEINT) * (n - nl - p + al))
            * 1000000 // (n - nl) AS g
        FROM pre0 WHERE nl < n),
      root AS (SELECT node, v AS threshold, CAST(g AS BIGINT)
            AS gini_scaled, nl AS n_left, n - nl AS n_right
        FROM g0 QUALIFY row_number() OVER (ORDER BY g, v) = 1),
      sided AS (SELECT CASE WHEN c.v <= r.threshold THEN 'L' ELSE 'R' END
            AS node, c.v, c.cnt, c.pos
        FROM cand c CROSS JOIN root r),
      pre1 AS (SELECT node, v,
          CAST(SUM(cnt) OVER (PARTITION BY node ORDER BY v) AS BIGINT)
            AS nl,
          CAST(SUM(pos) OVER (PARTITION BY node ORDER BY v) AS BIGINT)
            AS al,
          CAST(SUM(cnt) OVER (PARTITION BY node) AS BIGINT) AS n,
          CAST(SUM(pos) OVER (PARTITION BY node) AS BIGINT) AS p
        FROM sided),
      g1 AS (SELECT node, v, nl, al, n, p,
          (CAST(nl AS HUGEINT) * nl - CAST(al AS HUGEINT) * al
            - CAST(nl - al AS HUGEINT) * (nl - al)) * 1000000 // nl
          + (CAST(n - nl AS HUGEINT) * (n - nl)
            - CAST(p - al AS HUGEINT) * (p - al)
            - CAST(n - nl - p + al AS HUGEINT) * (n - nl - p + al))
            * 1000000 // (n - nl) AS g
        FROM pre1 WHERE nl < n),
      kids AS (SELECT node, v AS threshold, CAST(g AS BIGINT)
            AS gini_scaled, nl AS n_left, n - nl AS n_right
        FROM g1 QUALIFY row_number() OVER (PARTITION BY node
          ORDER BY g, v) = 1)
      SELECT node, threshold, gini_scaled, n_left, n_right FROM root
      UNION ALL SELECT node, threshold, gini_scaled, n_left, n_right
      FROM kids
      ORDER BY node"""))
  ) ++ Seq[(String, Q, Option[String])](

    // Plan-fingerprint result cache (ops.PlanCache): the warehouse
    // query-result-cache feature — the per-priority revenue rollup is
    // served through a content-addressed materialization keyed by the
    // canonicalized optimized plan + an input-snapshot salt (file
    // size/mtime; a plan hash alone cannot see data changes). The
    // oracle checks the CACHED bytes against the direct computation,
    // so a stale or corrupted cache entry fails the gate; PlanCacheSpec
    // pins hit/miss behavior (same plan modulo exprIds/aliases → one
    // materialization).
    ("q391_result_cache", (s: SparkSession, d: String) => {
      val agg = Tables(s, d, "orders")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          (Exact.sum(Exact.dec(col("o_totalprice"), 12)) * 100).cast("long")
            .as("cents"))
      val sf = new java.io.File(d).getName
      graft.ops.PlanCache.cached(agg, s"/tmp/graft_plan_cache/$sf",
          graft.ops.PlanCache.inputSalt(s"$d/orders.parquet"))
        .orderBy("o_orderpriority")
    }, Some("""
      SELECT o_orderpriority, COUNT(*) AS n,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT)
          AS cents
      FROM orders GROUP BY 1 ORDER BY 1""")),

    // Exact classifier AUC via the rank-sum identity AUC = U⁺/(n⁺·n⁻)
    // — the evaluation-side completion of the scorer family (q132
    // linear score, q379 NB): doubled midranks from the score
    // value-count aggregate keep ties exact (q240 discipline),
    // u2⁺ = Σ r2 − n⁺(n⁺+1) is the doubled U statistic, and the one
    // float is the closing division u2⁺/(2·n⁺·n⁻). The corpus crosses
    // one (score)-keyed aggregate; the rank window runs on the
    // score-cardinality relation.
    ("q392_classifier_auc", (s: SparkSession, d: String) => {
      val docs = t(s, d, "documents")
      val scored = graft.llm.Curation.hashedLinearScore(
          docs, "doc_id", "text", dim = 1024)
        .join(docs.select(col("doc_id"),
          (col("lang") === "en").as("pos")), "doc_id")
      val cnts = scored.groupBy("score").agg(count(lit(1)).as("cnt"),
        sum(when(col("pos"), 1L).otherwise(0L)).as("cnt_pos"))
      val r2 = cnts.withColumn("r2",
        lit(2L) * coalesce(sum(col("cnt")).over(Window.orderBy("score")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)) +
          col("cnt") + 1)
      r2.agg(sum(col("cnt_pos")).as("n_pos"),
          sum(col("cnt") - col("cnt_pos")).as("n_neg"),
          sum(col("cnt_pos") * col("r2")).as("rr_pos"))
        .select(col("n_pos"), col("n_neg"),
          (col("rr_pos") - col("n_pos") * (col("n_pos") + 1)).as("u2_pos"))
        .withColumn("auc", col("u2_pos").cast("double") /
          (lit(2L) * col("n_pos") * col("n_neg")).cast("double"))
    }, Some(s"""
      WITH toks AS (SELECT doc_id,
          unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
        FROM documents),
      ${graft.llm.XxHashOracle.xxh64Ctes("toks")},
      w AS (SELECT doc_id,
          CAST((hu & CAST(1023 AS HUGEINT)) % 21 - 10 AS BIGINT) AS wt
        FROM hashed),
      sc AS (SELECT w.doc_id, CAST(SUM(wt) AS BIGINT) AS score,
          (d.lang = 'en') AS pos
        FROM w JOIN documents d ON w.doc_id = d.doc_id
        GROUP BY 1, 3),
      c AS (SELECT score, COUNT(*) AS cnt,
          SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS cnt_pos
        FROM sc GROUP BY 1),
      r AS (SELECT score, cnt, cnt_pos,
          2 * COALESCE(SUM(cnt) OVER (ORDER BY score
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            + cnt + 1 AS r2
        FROM c),
      m AS (SELECT CAST(SUM(cnt_pos) AS BIGINT) AS n_pos,
          CAST(SUM(cnt - cnt_pos) AS BIGINT) AS n_neg,
          CAST(SUM(cnt_pos * r2) AS BIGINT) AS rr_pos
        FROM r)
      SELECT n_pos, n_neg,
        CAST(rr_pos - n_pos * (n_pos + 1) AS BIGINT) AS u2_pos,
        CAST(rr_pos - n_pos * (n_pos + 1) AS DOUBLE)
          / CAST(2 * n_pos * n_neg AS DOUBLE) AS auc
      FROM m"""))
  ) ++ Seq[(String, Q, Option[String])](

    // Streaming point-in-time enrichment: the event stream joins an
    // SCD2-versioned static dimension AS OF event time (equi-key plus
    // the validity-interval range predicate — stream-static joins
    // accept arbitrary static-side conditions), the streaming
    // composition of q152 (stream-static equi enrich) and q259 (batch
    // PIT lookup). Rates are deterministic functions of the type so
    // the oracle can inline the dimension; amounts are exact cents ×
    // integer rate. Real micro-batch execution through the memory
    // sink.
    ("q394_stream_pit_enrich", (s: SparkSession, d: String) => {
      val stream = Tables.stream(s, d, "events")
      val cut = "2024-01-15 00:00:00"
      val dim = materialize(Tables(s, d, "events").select("event_type").distinct()
        .select(col("event_type").as("ty"), explode(array(
          struct(lit("1900-01-01 00:00:00").cast("timestamp").as("vf"),
            lit(cut).cast("timestamp").as("vt"),
            length(col("event_type")).cast("long").as("rate")),
          struct(lit(cut).cast("timestamp").as("vf"),
            lit("9999-01-01 00:00:00").cast("timestamp").as("vt"),
            (length(col("event_type")) * 2).cast("long").as("rate"))))
          .as("v"))
        .select(col("ty"), col("v.vf"), col("v.vt"), col("v.rate"))).df
      val joined = stream.join(broadcast(dim),
          col("event_type") === col("ty") &&
            col("ts") >= col("vf") && col("ts") < col("vt"))
        .groupBy("event_type", "rate")
        .agg(count(lit(1)).as("n"),
          sum((Exact.dec(col("value"), 16) * 100).cast("long")
            * col("rate")).as("amount_cents"))
      val drained = Streams.drain(joined, "complete", sized(s, d))
      release(dim) // every micro-batch that reads it has run
      drained.select("event_type", "rate", "n", "amount_cents")
        .orderBy("event_type", "rate")
    }, Some("""
      WITH types AS (SELECT DISTINCT event_type FROM events),
      dim AS (
        SELECT event_type AS ty, TIMESTAMP '1900-01-01 00:00:00' AS vf,
          TIMESTAMP '2024-01-15 00:00:00' AS vt,
          CAST(LENGTH(event_type) AS BIGINT) AS rate FROM types
        UNION ALL
        SELECT event_type, TIMESTAMP '2024-01-15 00:00:00',
          TIMESTAMP '9999-01-01 00:00:00',
          CAST(LENGTH(event_type) * 2 AS BIGINT) FROM types)
      SELECT e.event_type, d.rate, COUNT(*) AS n,
        CAST(SUM(CAST(CAST(e.value AS DECIMAL(16,2)) * 100 AS BIGINT)
          * d.rate) AS BIGINT) AS amount_cents
      FROM events e JOIN dim d ON e.event_type = d.ty
        AND e.ts >= d.vf AND e.ts < d.vt
      GROUP BY 1, 2 ORDER BY 1, 2"""))
  ) ++ Seq[(String, Q, Option[String])](

    // pass@k estimator (Chen et al. 2021, HumanEval eval metric) —
    // the unbiased 1 − C(n−c,k)/C(n,k) with k = 3 over per-user
    // trial/success counts, in EXACT integer arithmetic: C(m,3) =
    // m(m−1)(m−2) div 6 is exact, the basis-point result is one floor
    // division. One corpus-keyed aggregate; the output is the compact
    // (n, c)-combination relation (bounded by distinct count pairs,
    // not user count). Users with fewer than k trials are excluded
    // (the estimator's domain), counted via the n_users column sum.
    ("q395_pass_at_k", (s: SparkSession, d: String) => {
      Tables(s, d, "events")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("c"))
        .filter(col("n") >= 3)
        .groupBy(col("n").as("n_trials"), col("c").as("n_success"))
        .agg(count(lit(1)).as("n_users"))
        .withColumn("pass3_bp", expr(
          """10000 - (((n_trials - n_success) * (n_trials - n_success - 1)
             * (n_trials - n_success - 2) div 6) * 10000)
             div ((n_trials * (n_trials - 1) * (n_trials - 2)) div 6)"""))
        .orderBy("n_trials", "n_success")
    }, Some("""
      WITH u AS (SELECT user_id, COUNT(*) AS n,
          CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
            AS BIGINT) AS c
        FROM events GROUP BY 1),
      g AS (SELECT n AS n_trials, c AS n_success, COUNT(*) AS n_users
        FROM u WHERE n >= 3 GROUP BY 1, 2)
      SELECT n_trials, n_success, n_users,
        10000 - (((n_trials - n_success) * (n_trials - n_success - 1)
          * (n_trials - n_success - 2) // 6) * 10000)
          // ((n_trials * (n_trials - 1) * (n_trials - 2)) // 6)
          AS pass3_bp
      FROM g ORDER BY n_trials, n_success""")),

    // Exact Shapley-value channel attribution (the coalition model of
    // Zhao et al. 2018): users' observed channel SETS induce the
    // coalition value v(S) = conversions reachable with channels ⊆ S,
    // and each channel's Shapley share is computed EXACTLY with
    // k!-scaled integer weights |S|!(k−1−|S|)! — no factorial
    // fractions, no floats. The corpus work is one (user)-keyed
    // aggregate to bitmasks; v and the Shapley sums live on the
    // 2^k-row lattice (metadata — k = 4 non-purchase channels).
    // Efficiency law Σφ = k!(v(full) − v(∅)) is spec-pinned.
    ("q396_shapley_attribution", (s: SparkSession, d: String) => {
      val ev = Tables(s, d, "events")
      val chMat = materialize(ev.select("event_type") // k rows
        .filter(col("event_type") =!= "purchase").distinct()
        .withColumn("idx", (row_number().over(
          Window.orderBy("event_type")) - 1).cast("long")))
      val (chDim, k) = (chMat.df, chMat.rows.toInt)
      require(k == 4, s"shapley lattice hardcodes k=4 channels, got $k")
      val userMask = ev.join(broadcast(chDim), "event_type")
        .select(col("user_id"), col("idx")).distinct()
        .groupBy("user_id")
        .agg(sum(expr("shiftleft(1L, CAST(idx AS INT))")).as("mask"))
      val w = materialize(ev.filter(col("event_type") === "purchase") // <= 2^k rows
        .groupBy("user_id").agg(count(lit(1)).as("pur"))
        .join(userMask, Seq("user_id"), "left")
        .na.fill(0L, Seq("mask"))
        .groupBy("mask").agg(sum(col("pur")).as("w"))).df
      val lattice = s.range(1L << k).select(col("id").as("S"))
      val v = materialize(lattice.join(w, expr("(mask & ~S) = 0"), "left")
        .groupBy("S").agg(coalesce(sum(col("w")), lit(0L)).as("v"))).df
      release(w) // read only by `v`'s job
      val v2 = v.select(col("S").as("S2"), col("v").as("vplus"))
      chDim.join(broadcast(lattice), expr("((S >> idx) & 1) = 0"))
        .join(broadcast(v), "S")
        .join(broadcast(v2), expr("S2 = S + shiftleft(1L, CAST(idx AS INT))"))
        .groupBy("event_type")
        .agg(sum(expr(
          """element_at(array(1L,1L,2L,6L), CAST(bit_count(S) AS INT) + 1)
             * element_at(array(1L,1L,2L,6L), 4 - CAST(bit_count(S) AS INT))
             * (vplus - v)""")).as("phi24"))
        .orderBy("event_type")
    }, Some("""
      WITH ch AS (SELECT event_type,
          CAST(row_number() OVER (ORDER BY event_type) - 1 AS BIGINT)
            AS idx
        FROM (SELECT DISTINCT event_type FROM events
              WHERE event_type <> 'purchase')),
      um AS (SELECT e.user_id,
          CAST(SUM(DISTINCT (CAST(1 AS BIGINT) << ch.idx)) AS BIGINT)
            AS mask
        FROM events e JOIN ch ON e.event_type = ch.event_type GROUP BY 1),
      wm AS (SELECT COALESCE(um.mask, 0) AS mask,
          CAST(COUNT(*) AS BIGINT) AS w
        FROM events e LEFT JOIN um USING (user_id)
        WHERE e.event_type = 'purchase' GROUP BY 1),
      lat AS (SELECT CAST(unnest(range(0, 16)) AS BIGINT) AS S),
      v AS (SELECT S, CAST(COALESCE(SUM(w.w), 0) AS BIGINT) AS v
        FROM lat LEFT JOIN wm w ON (w.mask & ~S) = 0 GROUP BY 1)
      SELECT ch.event_type, CAST(SUM(
          ([1,1,2,6])[bit_count(l.S) + 1] * ([1,1,2,6])[4 - bit_count(l.S)]
          * (v2.v - v1.v)) AS BIGINT) AS phi24
      FROM ch JOIN lat l ON ((l.S >> ch.idx) & 1) = 0
      JOIN v v1 ON v1.S = l.S
      JOIN v v2 ON v2.S = l.S + (CAST(1 AS BIGINT) << ch.idx)
      GROUP BY 1 ORDER BY event_type""")),

    // Closed-form RIDGE regression via normal equations — the
    // multivariate completion of q205's single-feature regr_* family,
    // and the canonical "train a linear model on 100 TB in ONE corpus
    // pass" shape: predict l_extendedprice (cents) from l_quantity
    // (cents) and the part's p_retailprice (cents). All nine
    // sufficient statistics (n, Σx, Σxᵢxⱼ, Σxᵢy) accumulate as exact
    // DECIMAL(38,0) on integer cents in a single partial-aggregable
    // pass over the fact table (the dim join is a broadcast); the 3×3
    // system (G + λ·diag(0,1,1)) β = c — the intercept is NOT
    // penalized, λ = 10¹² on the cents² scale — is then solved by
    // Cramer's rule on the ONE-ROW aggregate, with the only floats
    // being the closing determinant arithmetic: both engines convert
    // the same exact integers and evaluate textually identical
    // expressions, so the emitted doubles are IEEE-bit-identical
    // (q387's discipline). Wide stats never leave the plan — only n,
    // λ and the three coefficients are emitted (the q330 lesson:
    // >2⁶³ values don't survive driver hashing).
    ("q401_ridge_normal_eq", (s: SparkSession, d: String) => {
      val li = Tables(s, d, "lineitem").select(
        col("l_partkey"),
        (Exact.dec(col("l_quantity"), 12) * 100).cast("long").as("x1"),
        (Exact.dec(col("l_extendedprice"), 12) * 100).cast("long").as("y"))
      val pt = Tables(s, d, "part").select(col("p_partkey"),
        (Exact.dec(col("p_retailprice"), 12) * 100).cast("long").as("x2"))
      val one = li.join(broadcast(pt), col("l_partkey") === col("p_partkey"))
        .agg(count(lit(1)).as("n"),
          Exact.sum(col("x1")).as("s1"),
          Exact.sum(col("x2")).as("s2"),
          Exact.sum(col("y")).as("sy"),
          Exact.sumProduct(col("x1"), col("x1")).as("s11"),
          Exact.sumProduct(col("x1"), col("x2")).as("s12"),
          Exact.sumProduct(col("x2"), col("x2")).as("s22"),
          Exact.sumProduct(col("x1"), col("y")).as("s1y"),
          Exact.sumProduct(col("x2"), col("y")).as("s2y"))
      one.selectExpr("n",
          "CAST(n AS DOUBLE) AS a11", "CAST(s1 AS DOUBLE) AS a12",
          "CAST(s2 AS DOUBLE) AS a13",
          "CAST(s11 + 1000000000000 AS DOUBLE) AS a22",
          "CAST(s12 AS DOUBLE) AS a23",
          "CAST(s22 + 1000000000000 AS DOUBLE) AS a33",
          "CAST(sy AS DOUBLE) AS b1", "CAST(s1y AS DOUBLE) AS b2",
          "CAST(s2y AS DOUBLE) AS b3")
        .withColumn("det", expr(
          "a11 * (a22*a33 - a23*a23) - a12 * (a12*a33 - a23*a13)" +
          " + a13 * (a12*a23 - a22*a13)"))
        .selectExpr("n", "CAST(1000000000000 AS BIGINT) AS lambda",
          "(b1 * (a22*a33 - a23*a23) - a12 * (b2*a33 - a23*b3)" +
            " + a13 * (b2*a23 - a22*b3)) / det AS beta0",
          "(a11 * (b2*a33 - a23*b3) - b1 * (a12*a33 - a23*a13)" +
            " + a13 * (a12*b3 - b2*a13)) / det AS beta1",
          "(a11 * (a22*b3 - b2*a23) - a12 * (a12*b3 - b2*a13)" +
            " + b1 * (a12*a23 - a22*a13)) / det AS beta2")
    }, Some("""
      WITH b AS (SELECT
          CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT) AS x1,
          CAST(CAST(p_retailprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS x2,
          CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS y
        FROM lineitem JOIN part ON l_partkey = p_partkey),
      a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
          SUM(x1) AS s1, SUM(x2) AS s2, SUM(y) AS sy,
          SUM(CAST(x1 AS HUGEINT) * x1) AS s11,
          SUM(CAST(x1 AS HUGEINT) * x2) AS s12,
          SUM(CAST(x2 AS HUGEINT) * x2) AS s22,
          SUM(CAST(x1 AS HUGEINT) * y) AS s1y,
          SUM(CAST(x2 AS HUGEINT) * y) AS s2y
        FROM b),
      m AS (SELECT n,
          CAST(n AS DOUBLE) AS a11, CAST(s1 AS DOUBLE) AS a12,
          CAST(s2 AS DOUBLE) AS a13,
          CAST(s11 + 1000000000000 AS DOUBLE) AS a22,
          CAST(s12 AS DOUBLE) AS a23,
          CAST(s22 + 1000000000000 AS DOUBLE) AS a33,
          CAST(sy AS DOUBLE) AS b1, CAST(s1y AS DOUBLE) AS b2,
          CAST(s2y AS DOUBLE) AS b3
        FROM a),
      dt AS (SELECT m.*,
          a11 * (a22*a33 - a23*a23) - a12 * (a12*a33 - a23*a13)
            + a13 * (a12*a23 - a22*a13) AS det
        FROM m)
      SELECT n, CAST(1000000000000 AS BIGINT) AS lambda,
        (b1 * (a22*a33 - a23*a23) - a12 * (b2*a33 - a23*b3)
          + a13 * (b2*a23 - a22*b3)) / det AS beta0,
        (a11 * (b2*a33 - a23*b3) - b1 * (a12*a33 - a23*a13)
          + a13 * (a12*b3 - b2*a13)) / det AS beta1,
        (a11 * (a22*b3 - b2*a23) - a12 * (a12*b3 - b2*a13)
          + b1 * (a12*a23 - a22*a13)) / det AS beta2
      FROM dt""")),

    // Out-of-fold ridge CROSS-VALIDATION from the SAME single corpus
    // pass — the Gram-subtraction trick every distributed CV should
    // use: accumulate q401's sufficient statistics (plus Σy²) PER
    // FOLD (4 leakage-safe folds hashed on the ORDER key, so an
    // order's lines never straddle train/holdout), then each
    // leave-fold-out model's normal equations are just
    // (totals − fold) — exact DECIMAL subtraction on the 4-row
    // metadata aggregate, never a second scan. Each fold's holdout
    // RMSE closes in doubles from its own held-out stats (the SSE
    // quadratic-form expansion), textually identical in both engines
    // → IEEE-bit-identical. Training k+1 models costs ONE pass at
    // any scale; the naive per-fold refit costs k+1 passes.
    ("q402_ridge_oof_cv", (s: SparkSession, d: String) => {
      val li = Tables(s, d, "lineitem").select(
        col("l_partkey"),
        pmod(xxhash64(col("l_orderkey")), lit(4)).cast("long").as("fold"),
        (Exact.dec(col("l_quantity"), 12) * 100).cast("long").as("x1"),
        (Exact.dec(col("l_extendedprice"), 12) * 100).cast("long").as("y"))
      val pt = Tables(s, d, "part").select(col("p_partkey"),
        (Exact.dec(col("p_retailprice"), 12) * 100).cast("long").as("x2"))
      val perFold = li
        .join(broadcast(pt), col("l_partkey") === col("p_partkey"))
        .groupBy("fold")
        .agg(count(lit(1)).as("n"),
          Exact.sum(col("x1")).as("s1"),
          Exact.sum(col("x2")).as("s2"),
          Exact.sum(col("y")).as("sy"),
          Exact.sumProduct(col("x1"), col("x1")).as("s11"),
          Exact.sumProduct(col("x1"), col("x2")).as("s12"),
          Exact.sumProduct(col("x2"), col("x2")).as("s22"),
          Exact.sumProduct(col("x1"), col("y")).as("s1y"),
          Exact.sumProduct(col("x2"), col("y")).as("s2y"),
          Exact.sumProduct(col("y"), col("y")).as("syy"))
      val tot = perFold.agg(sum("n").as("tn"), sum("s1").as("t1"),
        sum("s2").as("t2"), sum("sy").as("ty"), sum("s11").as("t11"),
        sum("s12").as("t12"), sum("s22").as("t22"), sum("s1y").as("t1y"),
        sum("s2y").as("t2y"))
      perFold.crossJoin(broadcast(tot))
        .selectExpr("fold", "n",
          "CAST(tn - n AS DOUBLE) AS a11",
          "CAST(t1 - s1 AS DOUBLE) AS a12",
          "CAST(t2 - s2 AS DOUBLE) AS a13",
          "CAST((t11 - s11) + 1000000000000 AS DOUBLE) AS a22",
          "CAST(t12 - s12 AS DOUBLE) AS a23",
          "CAST((t22 - s22) + 1000000000000 AS DOUBLE) AS a33",
          "CAST(ty - sy AS DOUBLE) AS b1",
          "CAST(t1y - s1y AS DOUBLE) AS b2",
          "CAST(t2y - s2y AS DOUBLE) AS b3",
          "CAST(n AS DOUBLE) AS hn", "CAST(s1 AS DOUBLE) AS hs1",
          "CAST(s2 AS DOUBLE) AS hs2", "CAST(sy AS DOUBLE) AS hsy",
          "CAST(s11 AS DOUBLE) AS hs11", "CAST(s12 AS DOUBLE) AS hs12",
          "CAST(s22 AS DOUBLE) AS hs22", "CAST(s1y AS DOUBLE) AS hs1y",
          "CAST(s2y AS DOUBLE) AS hs2y", "CAST(syy AS DOUBLE) AS hsyy")
        .withColumn("det", expr(
          "a11 * (a22*a33 - a23*a23) - a12 * (a12*a33 - a23*a13)" +
          " + a13 * (a12*a23 - a22*a13)"))
        .withColumn("beta0", expr(
          "(b1 * (a22*a33 - a23*a23) - a12 * (b2*a33 - a23*b3)" +
          " + a13 * (b2*a23 - a22*b3)) / det"))
        .withColumn("beta1", expr(
          "(a11 * (b2*a33 - a23*b3) - b1 * (a12*a33 - a23*a13)" +
          " + a13 * (a12*b3 - b2*a13)) / det"))
        .withColumn("beta2", expr(
          "(a11 * (a22*b3 - b2*a23) - a12 * (a12*b3 - b2*a13)" +
          " + b1 * (a12*a23 - a22*a13)) / det"))
        .withColumn("sse", expr(
          "hsyy - 2*beta0*hsy - 2*beta1*hs1y - 2*beta2*hs2y" +
          " + beta0*beta0*hn + beta1*beta1*hs11 + beta2*beta2*hs22" +
          " + 2*beta0*beta1*hs1 + 2*beta0*beta2*hs2" +
          " + 2*beta1*beta2*hs12"))
        .selectExpr("fold", "n AS n_holdout", "beta0", "beta1", "beta2",
          "sqrt(sse / hn) AS rmse")
        .orderBy("fold")
    }, Some {
      // Per-row fold hash through the linear chain (hashLongSubquery):
      // the inline macro evaluated its argument ~1000x per joined row and
      // made this the suite's #1 oracle heavyweight (22.2 s in r08).
      val hashedLi = graft.llm.XxHashOracle.hashLongSubquery("lineitem",
        Seq("l_partkey", "l_quantity", "l_extendedprice"),
        "CAST(l_orderkey AS HUGEINT)", "CAST(42 AS HUGEINT)", "hu")
      s"""
      WITH b AS (SELECT
          CAST(((${graft.llm.XxHashOracle.signed("hu")} % 4)
            + 4) % 4 AS BIGINT) AS fold,
          CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT) AS x1,
          CAST(CAST(p_retailprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS x2,
          CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS y
        FROM $hashedLi li JOIN part ON l_partkey = p_partkey),
      a AS (SELECT fold, CAST(COUNT(*) AS BIGINT) AS n,
          SUM(x1) AS s1, SUM(x2) AS s2, SUM(y) AS sy,
          SUM(CAST(x1 AS HUGEINT) * x1) AS s11,
          SUM(CAST(x1 AS HUGEINT) * x2) AS s12,
          SUM(CAST(x2 AS HUGEINT) * x2) AS s22,
          SUM(CAST(x1 AS HUGEINT) * y) AS s1y,
          SUM(CAST(x2 AS HUGEINT) * y) AS s2y,
          SUM(CAST(y AS HUGEINT) * y) AS syy
        FROM b GROUP BY 1),
      t AS (SELECT SUM(n) AS tn, SUM(s1) AS t1, SUM(s2) AS t2,
          SUM(sy) AS ty, SUM(s11) AS t11, SUM(s12) AS t12,
          SUM(s22) AS t22, SUM(s1y) AS t1y, SUM(s2y) AS t2y
        FROM a),
      m AS (SELECT fold, n,
          CAST(tn - n AS DOUBLE) AS a11,
          CAST(t1 - s1 AS DOUBLE) AS a12,
          CAST(t2 - s2 AS DOUBLE) AS a13,
          CAST((t11 - s11) + 1000000000000 AS DOUBLE) AS a22,
          CAST(t12 - s12 AS DOUBLE) AS a23,
          CAST((t22 - s22) + 1000000000000 AS DOUBLE) AS a33,
          CAST(ty - sy AS DOUBLE) AS b1,
          CAST(t1y - s1y AS DOUBLE) AS b2,
          CAST(t2y - s2y AS DOUBLE) AS b3,
          CAST(n AS DOUBLE) AS hn, CAST(s1 AS DOUBLE) AS hs1,
          CAST(s2 AS DOUBLE) AS hs2, CAST(sy AS DOUBLE) AS hsy,
          CAST(s11 AS DOUBLE) AS hs11, CAST(s12 AS DOUBLE) AS hs12,
          CAST(s22 AS DOUBLE) AS hs22, CAST(s1y AS DOUBLE) AS hs1y,
          CAST(s2y AS DOUBLE) AS hs2y, CAST(syy AS DOUBLE) AS hsyy
        FROM a, t),
      dt AS (SELECT m.*,
          a11 * (a22*a33 - a23*a23) - a12 * (a12*a33 - a23*a13)
            + a13 * (a12*a23 - a22*a13) AS det
        FROM m),
      bt AS (SELECT dt.*,
          (b1 * (a22*a33 - a23*a23) - a12 * (b2*a33 - a23*b3)
            + a13 * (b2*a23 - a22*b3)) / det AS beta0,
          (a11 * (b2*a33 - a23*b3) - b1 * (a12*a33 - a23*a13)
            + a13 * (a12*b3 - b2*a13)) / det AS beta1,
          (a11 * (a22*b3 - b2*a23) - a12 * (a12*b3 - b2*a13)
            + b1 * (a12*a23 - a22*a13)) / det AS beta2
        FROM dt),
      sq AS (SELECT bt.*,
          hsyy - 2*beta0*hsy - 2*beta1*hs1y - 2*beta2*hs2y
            + beta0*beta0*hn + beta1*beta1*hs11 + beta2*beta2*hs22
            + 2*beta0*beta1*hs1 + 2*beta0*beta2*hs2
            + 2*beta1*beta2*hs12 AS sse
        FROM bt)
      SELECT fold, n AS n_holdout, beta0, beta1, beta2,
        sqrt(sse / hn) AS rmse
      FROM sq ORDER BY fold"""
    }),

    // STREAMING STATE REPARTITIONING on scale-out — the operational
    // move a long-running 100 TB stream makes when its fixed state
    // partition count (set at the checkpoint's FIRST batch) no longer
    // matches the cluster, done entirely through PUBLIC APIs, no
    // checkpoint surgery: (1) half the events drain into a per-user
    // streaming aggregation checkpointed at 2 state partitions;
    // (2) the stopped checkpoint's state is DECODED with the
    // statestore reader; (3) those rows re-enter a NEW query as
    // `flatMapGroupsWithState` initialState running at 4 state
    // partitions, which drains the second half into a fresh
    // checkpoint. The emitted relation is the NEW store's decoded
    // state: it must equal the flat GROUP BY over all events (no key
    // lost or double-counted in migration), and the query itself
    // requires the rebalanced store really is 4-wide before emitting.
    ("q403_state_repartition", (s: SparkSession, d: String) => {
      val root = s"/tmp/graft_q403/${new java.io.File(d).getName}"
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
      val ev = t(s, d, "events").select(col("user_id"),
        pmod(xxhash64(col("event_id")), lit(2)).as("half"))
      ev.filter(col("half") === 0).select("user_id").coalesce(1)
        .write.parquet(s"$root/h0")
      ev.filter(col("half") === 1).select("user_id").coalesce(1)
        .write.parquet(s"$root/h1")
      Streams.drain(
        s.readStream.schema("user_id LONG").parquet(s"$root/h0")
          .groupBy("user_id").count(),
        "update", 2, Some(s"$root/ck1"))
      val migrated = s.read.format("statestore").load(s"$root/ck1")
        .select(col("key.user_id").as("user_id"),
          col("value.count").as("n"))
      Streams.drain(
        Streams.userCountsFmgsInitial(s,
          s.readStream.schema("user_id LONG").parquet(s"$root/h1"),
          migrated),
        "update", 4, Some(s"$root/ck2"))
      val st2 = s.read.format("statestore").load(s"$root/ck2")
      val nParts = new java.io.File(s"$root/ck2/state/0")
        .listFiles().count(f => f.isDirectory && f.getName.forall(_.isDigit))
      require(nParts == 4,
        s"state did not rebalance to 4 partitions: $nParts")
      st2.select(col("key.value").as("user_id"),
          col("value.groupState.value").as("n"))
        .orderBy("user_id")
    }, Some("""
      SELECT user_id, COUNT(*) AS n FROM events
      GROUP BY 1 ORDER BY user_id"""))
  )

  /** Runs `df` eagerly (materialize) under temporarily-set session
    * confs, restoring every previous value afterward — the scoping that
    * makes per-query optimizer demonstrations (q221/q222) safe: the
    * returned frame serves from materialized blocks, so later reads
    * don't re-plan under the restored confs, and no other query
    * inherits the overrides. */
  private def withScopedConfs(s: SparkSession, confs: (String, String)*)(
      df: DataFrame): DataFrame = {
    val prev = confs.map { case (k, _) => k -> s.conf.getOption(k) }
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try materialize(df).df
    finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  private def recursiveRollupSql = """
    WITH RECURSIVE anc(node, a, bal) AS (
      SELECT CAST(s_suppkey AS BIGINT), CAST(s_suppkey AS BIGINT),
        CAST(CAST(s_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)
      FROM supplier
      UNION ALL
      SELECT node, CAST(FLOOR(a / 2) AS BIGINT), bal FROM anc WHERE a > 1)
    SELECT a AS ancestor, COUNT(*) AS n_desc,
      CAST(SUM(node) AS BIGINT) AS sum_desc,
      CAST(SUM(bal) AS BIGINT) AS bal_cents
    FROM anc GROUP BY a ORDER BY ancestor"""

  /** Registers the row-level catalog (idempotent) and returns a fresh
    * per-sf table name for `op` (dropping any previous run's table). */
  private def rowLevelTable(s: SparkSession, d: String, op: String): String = {
    s.conf.set("spark.sql.catalog.graft_rl",
      classOf[graft.sources.v2.rowlevel.GraftRowCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_rl.warehouse", "/tmp/graft_rl_wh")
    val sf = new java.io.File(d).getName.replace(".", "_")
    val tbl = s"graft_rl.db.${op}_$sf"
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    tbl
  }

  // Same-text SQL for q136/q137 (def: referenced during object init).
  private def unpivotSql = """
    SELECT l_orderkey, l_linenumber, k, v
    FROM (SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount, l_tax
          FROM lineitem)
    UNPIVOT (v FOR k IN (l_extendedprice, l_discount, l_tax))
    ORDER BY l_orderkey, l_linenumber, k"""

  private def pivotSql = """
    SELECT rf, CAST(F AS DOUBLE) AS f_qty, CAST(O AS DOUBLE) AS o_qty
    FROM (SELECT l_returnflag AS rf, l_linestatus AS ls,
            CAST(l_quantity AS DECIMAL(10,2)) AS q
          FROM lineitem)
    PIVOT (SUM(q) FOR ls IN ('F', 'O'))
    ORDER BY rf"""

  // def, not val: referenced from `entries` during object init.
  private def groupByAllSql = """
    SELECT l_returnflag, l_linestatus,
      CAST(SUM(CAST(l_quantity AS DECIMAL(10,2))) AS DOUBLE) AS sum_qty,
      COUNT(*) AS n
    FROM lineitem
    GROUP BY ALL
    ORDER BY l_returnflag, l_linestatus"""

  // def, not val: referenced from `entries` above during object init.
  private def dateSpineSql = """
    WITH RECURSIVE spine(day) AS (
      SELECT CAST('1995-01-01' AS DATE)
      UNION ALL
      SELECT CAST(day + INTERVAL 1 DAY AS DATE) FROM spine
      WHERE day < CAST('1995-03-31' AS DATE)
    ),
    daily AS (SELECT CAST(o_orderdate AS DATE) AS day, COUNT(*) AS n
              FROM orders GROUP BY 1)
    SELECT s.day, COALESCE(daily.n, 0) AS n_orders
    FROM spine s LEFT JOIN daily ON s.day = daily.day
    ORDER BY s.day"""
}
