package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.sources.Tables

/** Relational layer, batch 2 (SURVEY §2.2 Q17–Q33): subqueries, string/
  * date functions, pivot, time analytics (range/as-of joins,
  * sessionization, funnels), explode, grouping sets.
  *
  * Event-time logic runs on `ts_ms` (epoch millis, see Tables.load) so
  * Spark (us precision) and DuckDB (ns precision) agree bit-for-bit.
  */
object Analytic extends QueryGroup {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  private def dec(c: Column, scale: Int = 2): Column =
    c.cast(DecimalType(18, scale))

  private def dsum(c: Column, scale: Int = 2): Column =
    sum(c.cast(DecimalType(18, scale))).cast(DoubleType)

  private def oSum(expr: String, scale: Int = 2): String =
    s"CAST(SUM(CAST($expr AS DECIMAL(18,$scale))) AS DOUBLE)"

  // --------------------------------------------------------------- Q17
  private val q17 = QueryDef(
    "q17_having",
    (s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("spend"))
        .filter(col("n_orders") >= 15)
        .orderBy(col("o_custkey")),
    Some(s"""SELECT o_custkey, COUNT(*) AS n_orders, ${oSum("o_totalprice")} AS spend
      |FROM orders
      |GROUP BY o_custkey
      |HAVING COUNT(*) >= 15
      |ORDER BY o_custkey""".stripMargin))

  // --------------------------------------------------------------- Q18
  // Scalar subquery: the global average is one broadcast row — no
  // re-scan of part on the probe side at scale.
  private val q18 = QueryDef(
    "q18_scalar_subquery",
    (s, dir) => {
      val p = t(s, dir, "part")
      val thr = p.agg(
        (sum(dec(col("p_retailprice"))).cast(DoubleType) / count(lit(1)))
          .as("avg_price"))
      p.crossJoin(broadcast(thr))
        .filter(col("p_retailprice") > col("avg_price"))
        .select(col("p_partkey"), col("p_name"), col("p_retailprice"),
          col("avg_price"))
        .orderBy(col("p_partkey"))
    },
    Some("""WITH a AS (
      |  SELECT CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE)/COUNT(*) AS avg_price
      |  FROM part)
      |SELECT p_partkey, p_name, p_retailprice, avg_price
      |FROM part, a
      |WHERE p_retailprice > avg_price
      |ORDER BY p_partkey""".stripMargin))

  // --------------------------------------------------------------- Q19
  // Correlated-EXISTS semantics decorrelated into a grouped join — the
  // shape Catalyst produces for correlated subqueries, stated explicitly.
  private val q19 = QueryDef(
    "q19_correlated_exists",
    (s, dir) => {
      val o = t(s, dir, "orders")
      val avg = o.groupBy(col("o_custkey").as("ck"))
        .agg((sum(dec(col("o_totalprice"))).cast(DoubleType) / count(lit(1)))
          .as("cust_avg"))
      o.join(avg, col("o_custkey") === col("ck"))
        .filter(col("o_totalprice") > lit(1.5) * col("cust_avg"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("cust_avg"))
        .orderBy(col("o_orderkey"))
    },
    Some("""WITH a AS (
      |  SELECT o_custkey AS ck,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)/COUNT(*) AS cust_avg
      |  FROM orders GROUP BY o_custkey)
      |SELECT o_orderkey, o_custkey, o_totalprice, cust_avg
      |FROM orders JOIN a ON o_custkey = ck
      |WHERE o_totalprice > 1.5 * cust_avg
      |ORDER BY o_orderkey""".stripMargin))

  // --------------------------------------------------------------- Q20
  private val q20 = QueryDef(
    "q20_string_funcs",
    (s, dir) =>
      t(s, dir, "part")
        .filter(col("p_name").like("%o%"))
        .select(col("p_partkey"),
          upper(col("p_brand")).as("brand_u"),
          substring(col("p_name"), 1, 8).as("name8"),
          concat(col("p_type"), lit("/"), col("p_brand")).as("type_brand"),
          length(col("p_name")).cast("long").as("name_len"),
          regexp_extract(col("p_name"), "^([a-z]+)", 1).as("first_word"))
        .orderBy(col("p_partkey")),
    Some("""SELECT p_partkey, UPPER(p_brand) AS brand_u, SUBSTRING(p_name, 1, 8) AS name8,
      |  CONCAT(p_type, '/', p_brand) AS type_brand,
      |  CAST(LENGTH(p_name) AS BIGINT) AS name_len,
      |  REGEXP_EXTRACT(p_name, '^([a-z]+)', 1) AS first_word
      |FROM part
      |WHERE p_name LIKE '%o%'
      |ORDER BY p_partkey""".stripMargin))

  // --------------------------------------------------------------- Q21
  private val q21 = QueryDef(
    "q21_date_funcs",
    (s, dir) =>
      t(s, dir, "orders")
        .groupBy(
          date_trunc("month", col("o_orderdate")).cast("date").as("order_month"),
          year(col("o_orderdate")).cast("long").as("order_year"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy(col("order_month")),
    Some(s"""SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,
      |  CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS order_year,
      |  COUNT(*) AS n, ${oSum("o_totalprice")} AS total
      |FROM orders
      |GROUP BY order_month, order_year
      |ORDER BY order_month""".stripMargin))

  // --------------------------------------------------------------- Q22
  private val q22 = QueryDef(
    "q22_case_bucketing",
    (s, dir) =>
      t(s, dir, "orders")
        .select(
          when(col("o_totalprice") < 50000, "small")
            .when(col("o_totalprice") < 150000, "medium")
            .when(col("o_totalprice") < 300000, "large")
            .otherwise("jumbo").as("bucket"),
          col("o_totalprice"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy(col("bucket")),
    Some(s"""SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
      |  WHEN o_totalprice < 150000 THEN 'medium'
      |  WHEN o_totalprice < 300000 THEN 'large'
      |  ELSE 'jumbo' END AS bucket,
      |  COUNT(*) AS n, ${oSum("o_totalprice")} AS total
      |FROM orders
      |GROUP BY bucket
      |ORDER BY bucket""".stripMargin))

  // --------------------------------------------------------------- Q23
  // Exact quartiles with exact NTILE semantics, but NOT via an
  // unpartitioned window (single-partition wall at scale): global rank
  // from GlobalOrder (range partition + offset zip), then the NTILE
  // bucket formula — the first N%k buckets get ⌈N/k⌉ rows, the rest
  // ⌊N/k⌋. The count() feeding N is a parquet-metadata read.
  private val q23 = QueryDef(
    "q23_percentiles",
    (s, dir) => {
      val o = t(s, dir, "orders").select("o_totalprice", "o_orderkey")
      val n = o.count()
      val k = 4L
      val q = n / k
      val m = n % k
      val ranked = graft.operators.GlobalOrder.withGlobalRank(
        o, Seq(col("o_totalprice"), col("o_orderkey")), "r")
      val quartile =
        when(lit(m) > 0 && col("r") <= m * (q + 1),
          floor((col("r") - 1) / (q + 1)) + 1)
          .otherwise(lit(m) + floor((col("r") - 1 - m * (q + 1)) / q) + 1)
      ranked
        .select(col("o_totalprice"), quartile.cast("long").as("quartile"))
        .groupBy(col("quartile"))
        .agg(min(col("o_totalprice")).as("lo"), max(col("o_totalprice")).as("hi"),
          count(lit(1)).as("n"))
        .orderBy(col("quartile"))
    },
    Some("""SELECT quartile, MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi, COUNT(*) AS n
      |FROM (SELECT o_totalprice,
      |        CAST(NTILE(4) OVER (ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS quartile
      |      FROM orders) sub
      |GROUP BY quartile
      |ORDER BY quartile""".stripMargin))

  // --------------------------------------------------------------- Q24
  private val q24 = QueryDef(
    "q24_pivot",
    (s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .na.fill(0L, Seq("F", "O", "P"))
        .orderBy(col("o_orderpriority")),
    Some("""SELECT o_orderpriority,
      |  CAST(COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT) AS F,
      |  CAST(COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS BIGINT) AS O,
      |  CAST(COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS BIGINT) AS P
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin))

  // --------------------------------------------------------------- Q25
  private val q25 = QueryDef(
    "q25_union_dedup",
    (s, dir) =>
      t(s, dir, "customer").select(col("c_nationkey").as("nk"))
        .union(t(s, dir, "supplier").select(col("s_nationkey").as("nk")))
        .distinct()
        .orderBy(col("nk")),
    Some("""SELECT nk FROM (
      |  SELECT c_nationkey AS nk FROM customer
      |  UNION
      |  SELECT s_nationkey AS nk FROM supplier) u
      |ORDER BY nk""".stripMargin))

  // --------------------------------------------------------------- Q26
  // Self join with o_orderkey < tiebreak — fanout bounded per customer
  // key; at 100 TB this is a single shuffle on o_custkey.
  private val q26 = QueryDef(
    "q26_self_join",
    (s, dir) => {
      val o = t(s, dir, "orders").select("o_custkey", "o_orderkey")
      val a = o.as("a")
      val b = o.as("b")
      a.join(b, col("a.o_custkey") === col("b.o_custkey") &&
          col("a.o_orderkey") < col("b.o_orderkey"))
        .groupBy(col("a.o_custkey").as("custkey"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("custkey"))
    },
    Some("""SELECT a.o_custkey AS custkey, COUNT(*) AS n_pairs
      |FROM orders a JOIN orders b
      |  ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey
      |GROUP BY a.o_custkey
      |ORDER BY custkey""".stripMargin))

  // --------------------------------------------------------------- Q27
  // Time-band join: equi key (user_id) carries the shuffle, the range
  // predicate filters inside the join. At 100 TB add coarse time-bucket
  // keys to both sides to keep per-key fanout bounded.
  private val q27 = QueryDef(
    "q27_range_join",
    (s, dir) => {
      val e = t(s, dir, "events").select("event_id", "user_id", "event_type", "ts_ms")
      val p = e.filter(col("event_type") === "purchase").as("p")
      val c = e.filter(col("event_type") === "click").as("c")
      p.join(c,
          col("c.user_id") === col("p.user_id") &&
            col("c.ts_ms") > col("p.ts_ms") - 3600000L &&
            col("c.ts_ms") < col("p.ts_ms"), "left")
        .groupBy(col("p.event_id").as("event_id"))
        .agg(count(col("c.event_id")).as("clicks_1h"))
        .orderBy(col("event_id"))
    },
    Some("""SELECT p.event_id AS event_id, COUNT(c.event_id) AS clicks_1h
      |FROM (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms FROM events WHERE event_type = 'purchase') p
      |LEFT JOIN (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms FROM events WHERE event_type = 'click') c
      |  ON c.user_id = p.user_id AND c.ts_ms > p.ts_ms - 3600000 AND c.ts_ms < p.ts_ms
      |GROUP BY p.event_id
      |ORDER BY event_id""".stripMargin))

  // --------------------------------------------------------------- Q28
  // As-of join (most recent view at-or-before each purchase) as ONE
  // shuffle + window over the union — never an N×M pair blowup.
  private val q28 = QueryDef(
    "q28_asof_join",
    (s, dir) => {
      val e = t(s, dir, "events")
        .select("user_id", "ts_ms", "event_id", "event_type")
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_ms"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      e.withColumn("last_view_id",
          last(when(col("event_type") === "view", col("event_id")),
            ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_ms"), col("last_view_id"))
        .orderBy(col("event_id"))
    },
    Some("""SELECT e.event_id, e.user_id, epoch_ms(e.ts) AS ts_ms,
      |  (SELECT v.event_id FROM events v
      |   WHERE v.user_id = e.user_id AND v.event_type = 'view'
      |     AND (epoch_ms(v.ts) < epoch_ms(e.ts)
      |          OR (epoch_ms(v.ts) = epoch_ms(e.ts) AND v.event_id <= e.event_id))
      |   ORDER BY epoch_ms(v.ts) DESC, v.event_id DESC LIMIT 1) AS last_view_id
      |FROM events e
      |WHERE e.event_type = 'purchase'
      |ORDER BY e.event_id""".stripMargin))

  // --------------------------------------------------------------- Q29
  // Gap-based sessionization: lag → new-session flag → running sum =
  // session id. One shuffle on user_id, everything else window-local.
  private val q29 = QueryDef(
    "q29_sessionize",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
      val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("ts_ms"), col("value"))
        .withColumn("new_s",
          when(lag(col("ts_ms"), 1).over(w).isNull ||
            col("ts_ms") - lag(col("ts_ms"), 1).over(w) > 1800000L, 1)
            .otherwise(0))
        .withColumn("session_id", sum(col("new_s")).over(wRun).cast("long"))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts_ms")).as("start_ms"), max(col("ts_ms")).as("end_ms"),
          dsum(col("value")).as("session_value"))
        .orderBy(col("user_id"), col("session_id"))
    },
    Some(s"""WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, value FROM events),
      |flags AS (
      |  SELECT user_id, event_id, ts_ms, value,
      |    CASE WHEN LAG(ts_ms) OVER w IS NULL OR ts_ms - LAG(ts_ms) OVER w > 1800000
      |         THEN 1 ELSE 0 END AS new_s
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)),
      |sess AS (
      |  SELECT user_id, event_id, ts_ms, value,
      |    CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM flags)
      |SELECT user_id, session_id, COUNT(*) AS n_events,
      |  MIN(ts_ms) AS start_ms, MAX(ts_ms) AS end_ms,
      |  ${oSum("value")} AS session_value
      |FROM sess
      |GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin))

  // --------------------------------------------------------------- Q30
  private val q30 = QueryDef(
    "q30_tumbling_window",
    (s, dir) =>
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
        .select(col("w.start").cast("date").as("day"), col("event_type"),
          col("n"), col("total_value"))
        .orderBy(col("day"), col("event_type")),
    Some(s"""SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
      |  COUNT(*) AS n, ${oSum("value")} AS total_value
      |FROM events
      |GROUP BY day, event_type
      |ORDER BY day, event_type""".stripMargin))

  // --------------------------------------------------------------- Q31
  // Ordered funnel view→click→purchase. Each stage is a grouped min —
  // no per-event state, scales linearly.
  private val q31 = QueryDef(
    "q31_funnel",
    (s, dir) => {
      val e = t(s, dir, "events").select("user_id", "event_type", "ts_ms")
      val v = e.filter(col("event_type") === "view")
        .groupBy(col("user_id").as("vu")).agg(min(col("ts_ms")).as("v_ts"))
      val c = e.filter(col("event_type") === "click")
        .join(v, col("user_id") === col("vu") && col("ts_ms") > col("v_ts"))
        .groupBy(col("user_id").as("cu")).agg(min(col("ts_ms")).as("c_ts"))
      val p = e.filter(col("event_type") === "purchase")
        .join(c, col("user_id") === col("cu") && col("ts_ms") > col("c_ts"))
        .groupBy(col("user_id").as("pu")).agg(min(col("ts_ms")).as("p_ts"))
      e.select(col("user_id")).distinct()
        .join(v, col("user_id") === col("vu"), "left")
        .join(c, col("user_id") === col("cu"), "left")
        .join(p, col("user_id") === col("pu"), "left")
        .select(col("user_id"),
          col("v_ts").isNotNull.as("reached_view"),
          col("c_ts").isNotNull.as("reached_click"),
          col("p_ts").isNotNull.as("reached_purchase"))
        .orderBy(col("user_id"))
    },
    Some("""WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ts_ms FROM events),
      |v AS (SELECT user_id AS vu, MIN(ts_ms) AS v_ts FROM e WHERE event_type = 'view' GROUP BY user_id),
      |c AS (SELECT e.user_id AS cu, MIN(e.ts_ms) AS c_ts FROM e JOIN v ON e.user_id = vu AND e.ts_ms > v_ts
      |      WHERE e.event_type = 'click' GROUP BY e.user_id),
      |p AS (SELECT e.user_id AS pu, MIN(e.ts_ms) AS p_ts FROM e JOIN c ON e.user_id = cu AND e.ts_ms > c_ts
      |      WHERE e.event_type = 'purchase' GROUP BY e.user_id)
      |SELECT u.user_id,
      |  v_ts IS NOT NULL AS reached_view,
      |  c_ts IS NOT NULL AS reached_click,
      |  p_ts IS NOT NULL AS reached_purchase
      |FROM (SELECT DISTINCT user_id FROM e) u
      |LEFT JOIN v ON u.user_id = vu
      |LEFT JOIN c ON u.user_id = cu
      |LEFT JOIN p ON u.user_id = pu
      |ORDER BY u.user_id""".stripMargin))

  // --------------------------------------------------------------- Q32
  private val q32 = QueryDef(
    "q32_explode",
    (s, dir) =>
      t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= "")
        .groupBy(col("word"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("word")),
    Some("""SELECT word, COUNT(*) AS n
      |FROM (SELECT UNNEST(string_split(text, ' ')) AS word FROM documents) sub
      |WHERE word <> ''
      |GROUP BY word
      |ORDER BY word""".stripMargin))

  // --------------------------------------------------------------- Q33
  // Explicit grouping sets with GROUPING() disambiguation.
  private val q33 = QueryDef(
    "q33_grouping_sets",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      li.groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq.empty),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("total"),
          grouping(col("l_returnflag")).cast("long").as("g_flag"),
          grouping(col("l_linestatus")).cast("long").as("g_status"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("g_flag"), col("g_status"), col("n"), col("total"))
        .orderBy(col("returnflag"), col("linestatus"), col("g_flag"))
    },
    Some(s"""SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
      |  COALESCE(l_linestatus, 'ALL') AS linestatus,
      |  CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
      |  CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status,
      |  COUNT(*) AS n, ${oSum("l_extendedprice")} AS total
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
      |ORDER BY returnflag, linestatus, g_flag""".stripMargin))

  // --------------------------------------------------------------- Q34
  // Window navigation + distribution functions (lead / first_value /
  // percent_rank / cume_dist) in one per-key windowed pass — one shuffle
  // on the partition key, all four functions share the same sort.
  private val q34 = QueryDef(
    "q34_window_shift",
    (s, dir) => {
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
      t(s, dir, "orders")
        .filter(col("o_custkey") <= 200)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          lead(col("o_totalprice"), 1).over(w).as("next_price"),
          first_value(col("o_totalprice")).over(w).as("first_price"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },
    Some("""SELECT o_custkey, o_orderkey, o_totalprice,
      |  LEAD(o_totalprice, 1) OVER w AS next_price,
      |  FIRST_VALUE(o_totalprice) OVER w AS first_price,
      |  PERCENT_RANK() OVER w AS pr,
      |  CUME_DIST() OVER w AS cd
      |FROM orders
      |WHERE o_custkey <= 200
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
      |ORDER BY o_custkey, o_orderkey""".stripMargin))

  // --------------------------------------------------------------- Q35
  // Array construction + manipulation per group: collect_list under a
  // deterministic sort, then element/slice/predicate ops. Outputs stay
  // SCALAR (first/last/size/contains) — array-valued result columns
  // would hash differently between the engines' client stacks even when
  // equal (the HUGEINT lesson), while in-plan arrays are fully portable.
  private val q35 = QueryDef(
    "q35_array_ops",
    (s, dir) =>
      t(s, dir, "orders")
        .filter(col("o_custkey") <= 500)
        .groupBy(col("o_custkey"))
        .agg(array_sort(collect_list(col("o_orderkey"))).as("keys"))
        .select(col("o_custkey"),
          size(col("keys")).cast("long").as("n_orders"),
          element_at(col("keys"), 1).as("first_key"),
          element_at(col("keys"), -1).as("last_key"),
          array_contains(col("keys"), col("o_custkey") * 100)
            .as("has_centennial"))
        .orderBy(col("o_custkey")),
    Some("""SELECT o_custkey,
      |  CAST(len(keys) AS BIGINT) AS n_orders,
      |  keys[1] AS first_key,
      |  keys[-1] AS last_key,
      |  list_contains(keys, o_custkey * 100) AS has_centennial
      |FROM (
      |  SELECT o_custkey, list_sort(list(o_orderkey)) AS keys
      |  FROM orders WHERE o_custkey <= 500 GROUP BY o_custkey
      |) ORDER BY o_custkey""".stripMargin))

  // --------------------------------------------------------------- Q36
  // Edit-distance similarity between consecutive documents of a source
  // (adjacent pairing keeps it O(n) pairs — never all-pairs), with
  // Spark's THRESHOLDED levenshtein: beyond `levT` edits the exact
  // distance is useless for near-dup work, and the banded DP costs
  // O(k·n) instead of O(n²) per pair — the bound that keeps edit
  // distance affordable over long documents. Capped pairs report
  // lev = -1, similarity NULL (both engines via the same CASE).
  //
  // The adjacency pairing is SIZE-KEYED (the d2 pairsAuto pattern,
  // identical output either way — spec-proven, so the switch affects
  // only the plan):
  //  - small corpus: the lag window — one shuffle, no rank machinery;
  //    the per-source reducer is harmless when a source's rows fit one
  //    task, and the rank plan's ~0.6 s constant (range-partition
  //    sampling + zipWithIndex barrier) dominates at driver SFs.
  //  - >= pairLargeMinDocs: grouped range rank (GlobalOrder, the t8/p1
  //    machinery) + a self-join on rank−1 — `LAG OVER (PARTITION BY
  //    source)` with ~10 sources would funnel each source's ENTIRE
  //    corpus through one reducer, while the ranked self-join
  //    range-partitions by (source, doc_id) and scales with the corpus.
  // switch threshold MEASURED (`pairs` scenario, BASELINE §skew): on
  // local[32] the lag window still wins at 100k docs (rank's ~0.6 s
  // range-sample + zipWithIndex constant dominates), the rank arm wins
  // 1.9× at 500k and 1.5× at 1M; crossover ≈ 250k. On a many-core
  // cluster the window arm caps at ~#sources tasks at ANY corpus size,
  // so the local measurement is an UPPER bound for the right threshold.
  private val levT = 60
  private[queries] val pairLargeMinDocs = 250000L

  /** (source, doc_id, text, prev_id, prev_text) for consecutive docs
    * of a source, under either pairing regime. Visible in-library so
    * the spec can hash-compare the regimes / plan-gate the large arm.
    */
  private[graft] def adjacentPairs(docsDf: DataFrame,
      large: Boolean): DataFrame =
    if (!large) {
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      docsDf
        .select(col("source"), col("doc_id"), col("text"),
          lag(col("doc_id"), 1).over(w).as("prev_id"),
          lag(col("text"), 1).over(w).as("prev_text"))
        .filter(col("prev_id").isNotNull)
    } else {
      val ranked = graft.operators.GlobalOrder.withGroupedRank(
        docsDf, Seq("source"), Seq(col("doc_id")), "rn")
      val prev = ranked.select(col("source"), col("rn"),
        col("doc_id").as("prev_id"), col("text").as("prev_text"))
      ranked
        .withColumn("rn", col("rn") - 1)
        .join(prev, Seq("source", "rn"))
        .select(col("source"), col("doc_id"), col("text"),
          col("prev_id"), col("prev_text"))
    }

  private val q36 = QueryDef(
    "q36_edit_distance",
    (s, dir) => {
      val docsDf = Tables.load(s, dir, "documents")
        .select(col("source"), col("doc_id"), col("text"))
      val large = CorpusStats.nDocs(s, dir) >= pairLargeMinDocs
      adjacentPairs(docsDf, large)
        .withColumn("prev_len", length(col("prev_text")).cast("long"))
        .withColumn("lev",
          levenshtein(col("text"), col("prev_text"), levT).cast("long"))
        .select(col("source"), col("prev_id"), col("doc_id"), col("lev"),
          when(col("lev") >= 0,
            lit(1.0) - col("lev").cast("double") /
              greatest(length(col("text")), col("prev_len")).cast("double"))
            .as("similarity"))
        .orderBy(col("source"), col("doc_id"))
    },
    Some(s"""SELECT source, prev_id, doc_id,
      |  CASE WHEN lev_raw > $levT THEN -1 ELSE lev_raw END AS lev,
      |  CASE WHEN lev_raw > $levT THEN NULL
      |       ELSE 1.0 - CAST(lev_raw AS DOUBLE) / CAST(greatest(length(text), length(prev_text)) AS DOUBLE)
      |  END AS similarity
      |FROM (
      |  SELECT source, doc_id, text,
      |    LAG(doc_id) OVER w AS prev_id,
      |    LAG(text) OVER w AS prev_text,
      |    CAST(levenshtein(text, LAG(text) OVER w) AS BIGINT) AS lev_raw
      |  FROM documents
      |  WINDOW w AS (PARTITION BY source ORDER BY doc_id)
      |)
      |WHERE prev_id IS NOT NULL
      |ORDER BY source, doc_id""".stripMargin))

  // --------------------------------------------------------------- Q37
  // Sketch-based percentiles (Greenwald-Khanna via approx_percentile):
  // the 100 TB path for q23's exact quantiles — single partial-agg pass,
  // mergeable fixed-size sketch per group, no global sort. Sketch
  // internals differ per engine, so the oracle is BOUND-CHECKED: GK at
  // accuracy 5000 returns an element whose RANK is within n/5000 of the
  // target, and the plan verifies exactly that — it joins the sketch
  // output back to the rows, counts rank(v) = |{x ≤ v}| per group, and
  // emits pXX_ok = |rank − p·n| ≤ 2n/5000 + 4 (2× the promised error
  // plus discreteness slack). The oracle reproduces n and asserts both
  // flags are 1, so the driver hash-verifies the rank-error bound held
  // on real data.
  private val q37 = QueryDef(
    "q37_approx_percentiles",
    (s, dir) => {
      val o = t(s, dir, "orders")
        .select(col("o_orderpriority"), col("o_totalprice"))
      val sk = o.groupBy(col("o_orderpriority"))
        .agg(
          percentile_approx(col("o_totalprice"), lit(0.5), lit(5000))
            .as("p50"),
          percentile_approx(col("o_totalprice"), lit(0.9), lit(5000))
            .as("p90"))
      def rankOk(rank: Column, p: Double): Column =
        (abs(rank.cast(DoubleType) - col("n") * p) <=
          col("n") * 2.0 / 5000.0 + 4.0).cast("bigint")
      o.join(broadcast(sk), "o_orderpriority")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("o_totalprice") <= col("p50"), 1L).otherwise(0L))
            .as("r50"),
          sum(when(col("o_totalprice") <= col("p90"), 1L).otherwise(0L))
            .as("r90"))
        .select(col("o_orderpriority"), col("n"),
          rankOk(col("r50"), 0.5).as("p50_ok"),
          rankOk(col("r90"), 0.9).as("p90_ok"))
        .orderBy(col("o_orderpriority"))
    },
    Some("""SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(1 AS BIGINT) AS p50_ok, CAST(1 AS BIGINT) AS p90_ok
      |FROM orders GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin))

  // --------------------------------------------------------------- Q38
  // Time-series gap fill: a per-customer daily date spine (generated,
  // never stored) left-joined to actual daily totals, missing days
  // forward-filled with the last observation (LOCF) — the standard
  // time-series-engine capability for irregular event data.
  //
  // Scale shape: the date filter pushes to the scan; the spine explodes
  // from per-customer (min, max) bounds — O(active customers × days in
  // window), generated map-side, never materialized to storage; the
  // fill window partitions by CUSTOMER (high cardinality — this is the
  // legitimate window shape, unlike the few-group walls q5/q7 avoid).
  // Both engines use the same default running frame (unbounded
  // preceding → current row), so LOCF values hash-match exactly.
  private val q38 = QueryDef(
    "q38_gap_fill",
    (s, dir) => {
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1995-01-01") &&
          col("o_orderdate") < lit("1995-02-01"))
        .select(col("o_custkey"), col("o_orderdate").cast("date").as("d"),
          col("o_totalprice"))
      val daily = o.groupBy("o_custkey", "d")
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("day_total"))
      val spine = daily.groupBy("o_custkey")
        .agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
        .select(col("o_custkey"), explode(sequence(col("d0"), col("d1"))).as("d"))
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("d"))
      spine.join(daily, Seq("o_custkey", "d"), "left")
        .select(col("o_custkey"), col("d"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          last(col("day_total"), ignoreNulls = true).over(w).as("filled_total"))
        .orderBy("o_custkey", "d")
    },
    Some(s"""WITH o AS (SELECT o_custkey, CAST(o_orderdate AS DATE) AS d, o_totalprice
      |  FROM orders
      |  WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1995-02-01'),
      |daily AS (SELECT o_custkey, d, COUNT(*) AS n_orders,
      |    ${oSum("o_totalprice")} AS day_total
      |  FROM o GROUP BY o_custkey, d),
      |spine AS (SELECT b.o_custkey, CAST(g AS DATE) AS d
      |  FROM (SELECT o_custkey, MIN(d) AS d0, MAX(d) AS d1
      |        FROM daily GROUP BY o_custkey) b,
      |       unnest(generate_series(CAST(b.d0 AS TIMESTAMP),
      |                              CAST(b.d1 AS TIMESTAMP),
      |                              INTERVAL 1 DAY)) AS t(g))
      |SELECT s.o_custkey, s.d,
      |  CAST(coalesce(daily.n_orders, 0) AS BIGINT) AS n_orders,
      |  last_value(daily.day_total IGNORE NULLS)
      |    OVER (PARTITION BY s.o_custkey ORDER BY s.d) AS filled_total
      |FROM spine s LEFT JOIN daily USING(o_custkey, d)
      |ORDER BY o_custkey, d""".stripMargin))

  // --------------------------------------------------------------- Q39
  // Cohort retention matrix: cohort = month of a customer's FIRST order;
  // cell (cohort, month_offset) = distinct customers of that cohort
  // active offset months later, plus the retention rate vs cohort size.
  // Scale shape: the first-order table is customer-grain (bucket-sized
  // at 100 TB, never wider); the orders→first join and the per-customer
  // min share one hash shuffle on o_custkey; the distinct-count runs as
  // the standard two-phase partial agg over (cohort, offset, customer).
  // Output is bounded by cohorts × offsets — months², not data-sized.
  // The rate is one IEEE division of two exact longs (engine-identical).
  private val q39 = QueryDef(
    "q39_cohort_retention",
    (s, dir) => {
      val o = t(s, dir, "orders").select(col("o_custkey"),
        date_trunc("month", col("o_orderdate")).cast("date").as("m"))
      val first = o.groupBy("o_custkey").agg(min(col("m")).as("cohort"))
      val sizes = first.groupBy("cohort")
        .agg(count(lit(1)).as("cohort_n"))
      o.join(first, "o_custkey")
        .select(col("cohort"), col("o_custkey"),
          ((year(col("m")) * 12 + month(col("m"))) -
            (year(col("cohort")) * 12 + month(col("cohort"))))
            .cast("long").as("month_offset"))
        .groupBy("cohort", "month_offset")
        .agg(count_distinct(col("o_custkey")).as("n_active"))
        .join(sizes, "cohort")
        .select(col("cohort"), col("month_offset"), col("n_active"),
          col("cohort_n"),
          (col("n_active").cast("double") / col("cohort_n").cast("double"))
            .as("retention"))
        .orderBy("cohort", "month_offset")
    },
    Some("""WITH o AS (SELECT o_custkey,
      |  CAST(date_trunc('month', o_orderdate) AS DATE) AS m FROM orders),
      |f AS (SELECT o_custkey, MIN(m) AS cohort FROM o GROUP BY o_custkey),
      |sz AS (SELECT cohort, CAST(COUNT(*) AS BIGINT) AS cohort_n
      |       FROM f GROUP BY cohort),
      |r AS (SELECT cohort,
      |        CAST((EXTRACT(year FROM m)*12 + EXTRACT(month FROM m))
      |           - (EXTRACT(year FROM cohort)*12
      |              + EXTRACT(month FROM cohort)) AS BIGINT) AS month_offset,
      |        CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT) AS n_active
      |      FROM o JOIN f USING(o_custkey) GROUP BY 1, 2)
      |SELECT cohort, month_offset, n_active, cohort_n,
      |  CAST(n_active AS DOUBLE)/CAST(cohort_n AS DOUBLE) AS retention
      |FROM r JOIN sz USING(cohort)
      |ORDER BY cohort, month_offset""".stripMargin))

  // --------------------------------------------------------------- Q40
  // Distributed second-moment statistics (variance / stddev / covariance
  // / Pearson correlation) per group — the profiling pass every feature
  // pipeline runs before normalizing columns. Built as a MOMENT SKETCH:
  // one partial-agg pass accumulates exact DECIMAL power sums (n, Σx,
  // Σx², Σy, Σy², Σxy) — commutative, order-independent, mergeable
  // across any partitioning, so the shuffle carries 6 numbers per group
  // regardless of data size. The statistics derive from the sums at the
  // output boundary with BOTH engines evaluating the identical IEEE
  // double expression over identical exact-decimal inputs → bit-exact
  // hashes without any float aggregation order dependence (built-in
  // `corr`/`var_samp` stream doubles in partition order and could never
  // cross-engine hash-match).
  private val q40 = QueryDef(
    "q40_stats_moments",
    (s, dir) => {
      val l = t(s, dir, "lineitem").select(col("l_returnflag"),
        dec(col("l_quantity")).as("q"), dec(col("l_extendedprice")).as("p"))
      val sums = l.groupBy("l_returnflag").agg(
        count(lit(1)).as("n"),
        sum(col("q")).as("sq_d"), sum(col("p")).as("sp_d"),
        sum(col("q") * col("q")).as("sqq_d"),
        sum(col("p") * col("p")).as("spp_d"),
        sum(col("q") * col("p")).as("sqp_d"))
      val dn = col("n").cast(DoubleType)
      def d(c: String) = col(c).cast(DoubleType)
      // Output stats round to 6 dp: the power sums are exact, but their
      // decimal→double casts double-round once the unscaled value
      // crosses 2⁵³ (engine-dependent last ulp — observed on DuckDB's
      // int128-path cast), so derived doubles carry ~1e-16 RELATIVE
      // noise. The statistics are ratio-of-sums (magnitude does not
      // grow with n), so a fixed 1e-6 grid absorbs that noise at any
      // corpus size.
      def r6(c: Column) = round(c, 6)
      sums.select(col("l_returnflag"), col("n"),
          r6(d("sq_d") / dn).as("mean_q"),
          r6((d("sqq_d") - d("sq_d") * d("sq_d") / dn) / (dn - lit(1.0)))
            .as("var_q"),
          r6(sqrt((d("sqq_d") - d("sq_d") * d("sq_d") / dn) / (dn - lit(1.0))))
            .as("std_q"),
          r6((d("sqp_d") - d("sq_d") * d("sp_d") / dn) / (dn - lit(1.0)))
            .as("covar_qp"),
          r6((dn * d("sqp_d") - d("sq_d") * d("sp_d")) /
            (sqrt(dn * d("sqq_d") - d("sq_d") * d("sq_d")) *
              sqrt(dn * d("spp_d") - d("sp_d") * d("sp_d")))).as("corr_qp"))
        .orderBy(col("l_returnflag"))
    },
    Some("""WITH m AS (
      |  SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
      |    SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sq_d,
      |    SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sp_d,
      |    SUM(CAST(l_quantity AS DECIMAL(18,2))
      |      * CAST(l_quantity AS DECIMAL(18,2))) AS sqq_d,
      |    SUM(CAST(l_extendedprice AS DECIMAL(18,2))
      |      * CAST(l_extendedprice AS DECIMAL(18,2))) AS spp_d,
      |    SUM(CAST(l_quantity AS DECIMAL(18,2))
      |      * CAST(l_extendedprice AS DECIMAL(18,2))) AS sqp_d
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT l_returnflag, n,
      |  round(CAST(sq_d AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_q,
      |  round((CAST(sqq_d AS DOUBLE) - CAST(sq_d AS DOUBLE) * CAST(sq_d AS DOUBLE)
      |     / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0), 6) AS var_q,
      |  round(sqrt((CAST(sqq_d AS DOUBLE) - CAST(sq_d AS DOUBLE) * CAST(sq_d AS DOUBLE)
      |     / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0)), 6) AS std_q,
      |  round((CAST(sqp_d AS DOUBLE) - CAST(sq_d AS DOUBLE) * CAST(sp_d AS DOUBLE)
      |     / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0), 6) AS covar_qp,
      |  round((CAST(n AS DOUBLE) * CAST(sqp_d AS DOUBLE)
      |     - CAST(sq_d AS DOUBLE) * CAST(sp_d AS DOUBLE))
      |   / (sqrt(CAST(n AS DOUBLE) * CAST(sqq_d AS DOUBLE)
      |        - CAST(sq_d AS DOUBLE) * CAST(sq_d AS DOUBLE))
      |    * sqrt(CAST(n AS DOUBLE) * CAST(spp_d AS DOUBLE)
      |        - CAST(sp_d AS DOUBLE) * CAST(sp_d AS DOUBLE))), 6) AS corr_qp
      |FROM m ORDER BY l_returnflag""".stripMargin))

  // --------------------------------------------------------------- Q41
  // Event-time RANGE-frame window: per event, the count and sum of the
  // user's activity in the trailing 7 days — the sliding-window feature
  // every behavioral model trains on. The frame is defined by VALUE
  // range over epoch millis (not row count), so irregular event spacing
  // is handled exactly. Scale shape: partitions by user_id (high
  // cardinality — one user's history per reducer, never the corpus);
  // the summed value is quantized to DECIMAL before the frame aggregate
  // so the result is independent of each engine's frame-evaluation
  // strategy (DuckDB's segment tree vs Spark's sliding accumulation
  // would drift last-ulp under a double sum).
  private val q41 = QueryDef(
    "q41_range_frame",
    (s, dir) => {
      val e = t(s, dir, "events").select(col("event_id"), col("user_id"),
        col("ts_ms"), dec(col("value"), 6).as("v"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"))
        .rangeBetween(-7L * 24 * 3600 * 1000, Window.currentRow)
      e.select(col("event_id"), col("user_id"), col("ts_ms"),
          count(lit(1)).over(w).as("n_7d"),
          sum(col("v")).over(w).cast(DoubleType).as("sum_7d"))
        .orderBy("user_id", "ts_ms", "event_id")
    },
    Some("""SELECT event_id, user_id, epoch_ms(ts) AS ts_ms,
      |  CAST(COUNT(*) OVER w AS BIGINT) AS n_7d,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sum_7d
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts)
      |  RANGE BETWEEN 604800000 PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, ts_ms, event_id""".stripMargin))

  // --------------------------------------------------------------- Q42
  // Deterministic stratified sampling: each stratum (language) keeps a
  // configured fraction of documents, selected by an md5 bucket of the
  // stable key — the reproducible subsampling a corpus-ablation study
  // needs (`rand()` sampling is irreproducible across engines, retries,
  // and partitionings; a hash of the key is a pure projection that
  // yields the SAME sample on any engine at any parallelism). Scale
  // shape: map-side filter only — zero shuffle, scan-speed, and the
  // per-stratum rate is enforced without counting the strata first.
  private val q42 = QueryDef(
    "q42_stratified_sample",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val bucket = substring(
        md5(col("doc_id").cast("string").cast("binary")), 1, 2)
      val thr = when(col("lang") === "en", lit("80"))  // ~50%
        .when(col("lang") === "zh", lit("0d"))         // ~5%
        .otherwise(lit("33"))                          // ~20%
      d.filter(bucket < thr)
        .select(col("doc_id"), col("lang"), col("source"),
          bucket.as("bucket"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id, lang, source,
      |  substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS bucket
      |FROM documents
      |WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) <
      |  (CASE WHEN lang = 'en' THEN '80'
      |        WHEN lang = 'zh' THEN '0d'
      |        ELSE '33' END)
      |ORDER BY doc_id""".stripMargin))

  // --------------------------------------------------------------- Q43
  // EXACT per-group quantiles at scale — the complement of q37's
  // bound-checked sketches when the answer must be exact (billing
  // tiers, SLA cutoffs). The naive exact plans both die at 100 TB:
  // `percentile()` buffers every group member in one aggregation
  // buffer, and a per-group sort window funnels each group through one
  // reducer (these groups are corpus-sized — 3 return flags over all
  // of lineitem). r12's plan ranked EVERYTHING via GlobalOrder — exact,
  // no reducer wall, but a corpus-wide range shuffle + sort just to
  // read off 3 rows per group (BASELINE §sf10: 8.7× on 10× data — the
  // sort was the job). r13 replaces it with SKETCH-NARROWED exact
  // selection ([[graft.operators.SketchNarrowedQuantiles]]): q37's GK
  // sketch bounds each target rank ⌈q·n⌉ to a value band, one
  // partial-agg scan counts rows below the band exactly, and only the
  // band rows (~0.16% of the corpus) pay the range sort — three scans,
  // none of which shuffles more than a few rows per group plus the
  // band slice. Quantile ranks follow the percentile_disc convention
  // DuckDB's quantile_disc implements (⌈q·n⌉, VERIFIED at n where it
  // diverges from the ⌊q·(n−1)⌋+1 variant); selected values are
  // untouched passthrough doubles, so the match is bit-exact — the
  // sketch narrows, never answers.
  private val q43 = QueryDef(
    "q43_exact_quantiles",
    (s, dir) => {
      val l = t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_extendedprice").as("v"),
          col("l_orderkey"), col("l_linenumber"))
      // unique tiebreak after the value: GlobalOrder's documented
      // total-order contract (tied ranks must not renumber on cache
      // eviction + recompute); the selected VALUES are tie-invariant
      // either way, the contract is about rank identity
      graft.operators.SketchNarrowedQuantiles.perGroup(
        l, "l_returnflag", "v",
        Seq(("p25", 1), ("p50", 2), ("p75", 3)), den = 4,
        tiebreak = Seq(col("l_orderkey"), col("l_linenumber")))
        .orderBy("l_returnflag")
    },
    Some("""SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  quantile_disc(l_extendedprice, 0.25) AS p25,
      |  quantile_disc(l_extendedprice, 0.5) AS p50,
      |  quantile_disc(l_extendedprice, 0.75) AS p75
      |FROM lineitem GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin))

  override val queries: Seq[QueryDef] =
    Seq(q17, q18, q19, q20, q21, q22, q23, q24, q25, q26, q27, q28,
      q29, q30, q31, q32, q33, q34, q35, q36, q37, q38, q39, q40, q41,
      q42, q43)
}
