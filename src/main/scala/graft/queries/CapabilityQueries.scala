package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import graft.core.Tables

/** Capability query corpus Q1–Q17 (SURVEY.md §2.3) over the TPC-H-ish
  * testdata. Each query has a DataFrame implementation and an ANSI-SQL
  * oracle (DuckDB) with identical column names + deterministic ORDER BY.
  *
  * Determinism rules (both engines must hash-match):
  *  - double aggregation goes through an exact DECIMAL sum, then a final
  *    cast back to double (order-of-summation independent);
  *  - averages are (exact decimal sum → double) / count — one double
  *    division, identical in both engines;
  *  - every query ends in a total ORDER BY with a unique tie-break key;
  *  - int-valued computed columns (row_number, datediff) are cast to
  *    BIGINT on the Spark side to match DuckDB's default integer width.
  *
  * Scale notes (100 TB posture): filters/projections sit directly on the
  * parquet scan (pushdown + column pruning verified via explain);
  * dimension joins (region/nation/part/customer) are broadcast; fact-fact
  * work is hash-aggregated with map-side partial aggregation, which
  * Catalyst supplies for free on groupBy/agg.
  */
object CapabilityQueries {

  /** Exact, order-independent sum of a double column: sum as decimal,
    * final value back to double. `scale` must cover the column's true
    * decimal scale (testdata money columns have 2, derived products 4). */
  private def dsum(c: Column, scale: Int = 2): Column =
    sum(c.cast(DecimalType(30, scale))).cast(DoubleType)

  // ---------------------------------------------------------------- Q1
  def q01FilterProject(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1995-01-01").cast(TimestampType) &&
        col("l_shipdate") < lit("1996-01-01").cast(TimestampType) &&
        col("l_quantity") > 45)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_shipdate")
      .orderBy("l_orderkey", "l_linenumber")

  val q01Sql: String =
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_shipdate
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1995-01-01'
      |  AND l_shipdate < TIMESTAMP '1996-01-01' AND l_quantity > 45
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ---------------------------------------------------------------- Q2
  /** TPC-H Q1 shape: wide hash aggregation with map-side combine. */
  def q02HashAgg(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast(TimestampType))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 6)
          .as("sum_disc_price"),
        (dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  val q02Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS sum_disc_price,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
      |  COUNT(*) AS count_order
      |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------- Q3
  /** Equi-join chain over two broadcast dims + aggregation. */
  def q03JoinAgg(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(count(lit(1)).as("n_customers"),
        dsum(col("c_acctbal")).as("total_acctbal"))
      .orderBy("r_name", "n_name")

  val q03Sql: String =
    """SELECT r_name, n_name, COUNT(*) AS n_customers,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(30,2))) AS DOUBLE) AS total_acctbal
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name
      |ORDER BY r_name, n_name""".stripMargin

  // ---------------------------------------------------------------- Q4
  /** Fact ⋈ broadcast dimension: part is small at every SF — broadcast
    * avoids shuffling the lineitem fact entirely. */
  def q04BroadcastJoin(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 6)
          .as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("p_brand")

  val q04Sql: String =
    """SELECT p_brand,
      |  CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_items
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY p_brand ORDER BY p_brand""".stripMargin

  // ---------------------------------------------------------------- Q5
  def q05SemiJoin(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select(col("o_custkey").as("c_custkey"))
    Tables.customer(s, d).select("c_custkey", "c_name")
      .join(o, Seq("c_custkey"), "left_semi")
      .orderBy("c_custkey")
  }

  val q05Sql: String =
    """SELECT c_custkey, c_name FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
      |ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------- Q6
  def q06AntiJoin(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select(col("o_custkey").as("c_custkey"))
    Tables.customer(s, d).select("c_custkey", "c_name")
      .join(o, Seq("c_custkey"), "left_anti")
      .orderBy("c_custkey")
  }

  val q06Sql: String =
    """SELECT c_custkey, c_name FROM customer c
      |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
      |ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------- Q7
  /** Left outer join preserving customers with zero orders;
    * COUNT(o_orderkey) ignores the null-extended rows. */
  def q07OuterJoin(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("n_orders"),
        coalesce(dsum(col("o_totalprice")), lit(0.0)).as("total_spend"))
      .orderBy("c_custkey")

  val q07Sql: String =
    """SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
      |  COALESCE(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE), 0.0) AS total_spend
      |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------- Q8
  /** O11's array-top-1 pattern at table scale: rank-within-partition.
    * Unique tie-break on o_orderkey keeps both engines' output identical. */
  def q08WindowTopk(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rk", row_number().over(w).cast(LongType))
      .filter(col("rk") <= 3)
      .orderBy("o_custkey", "rk")
  }

  val q08Sql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    ROW_NUMBER() OVER (PARTITION BY o_custkey
      |                       ORDER BY o_totalprice DESC, o_orderkey) AS rk
      |  FROM orders) t
      |WHERE rk <= 3 ORDER BY o_custkey, rk""".stripMargin

  // ---------------------------------------------------------------- Q9
  /** ROLLUP grouping sets. DuckDB sorts NULLS LAST by default, Spark
    * NULLS FIRST — pinned explicitly on both sides. */
  def q09Rollup(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .rollup("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("total"))
      .orderBy(col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)

  val q09Sql: String =
    """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS total
      |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
      |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin

  // --------------------------------------------------------------- Q10
  def q10Distinct(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
      .orderBy("event_type")

  val q10Sql: String =
    """SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // --------------------------------------------------------------- Q11
  /** Top-k via sort+limit; Spark plans this as TakeOrderedAndProject —
    * no full sort materialization at scale. */
  def q11TopkSort(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)

  val q11Sql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin

  // --------------------------------------------------------------- Q12
  /** union / intersect / except across two date slices of orders. */
  def q12SetOps(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val cut = lit("1995-01-01").cast(TimestampType)
    // each side feeds three set-op branches — no cache needed: the
    // three branches contain identical exchange subtrees, which
    // ReuseExchange collapses within the single physical plan, so
    // nothing is pinned in the block manager after the query returns
    val a = o.filter(col("o_orderdate") < cut).select("o_custkey")
      .distinct()
    val b = o.filter(col("o_orderdate") >= cut).select("o_custkey")
      .distinct()
    a.intersect(b).withColumn("tag", lit("both"))
      .unionByName(a.except(b).withColumn("tag", lit("only_a")))
      .unionByName(b.except(a).withColumn("tag", lit("only_b")))
      .select("tag", "o_custkey")
      .orderBy("tag", "o_custkey")
  }

  val q12Sql: String =
    """WITH a AS (SELECT DISTINCT o_custkey FROM orders
      |           WHERE o_orderdate < TIMESTAMP '1995-01-01'),
      |     b AS (SELECT DISTINCT o_custkey FROM orders
      |           WHERE o_orderdate >= TIMESTAMP '1995-01-01')
      |SELECT 'both' AS tag, o_custkey FROM (SELECT * FROM a INTERSECT SELECT * FROM b)
      |UNION ALL
      |SELECT 'only_a' AS tag, o_custkey FROM (SELECT * FROM a EXCEPT SELECT * FROM b)
      |UNION ALL
      |SELECT 'only_b' AS tag, o_custkey FROM (SELECT * FROM b EXCEPT SELECT * FROM a)
      |ORDER BY tag, o_custkey""".stripMargin

  // --------------------------------------------------------------- Q13
  /** Scalar-function battery: date arithmetic, truncation, strings, CASE. */
  def q13ScalarBattery(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(
        col("o_orderkey"),
        datediff(lit("1998-12-31").cast(DateType), col("o_orderdate").cast(DateType))
          .cast(LongType).as("days_to_end"),
        date_trunc("month", col("o_orderdate")).as("order_month"),
        substring(col("o_orderpriority"), 1, 1).as("prio_code"),
        concat(col("o_orderstatus"), lit("-"), col("o_orderpriority"))
          .as("status_prio"),
        when(col("o_totalprice") > 200000, "high")
          .when(col("o_totalprice") > 100000, "mid")
          .otherwise("low").as("bucket"))
      .orderBy("o_orderkey")

  val q13Sql: String =
    """SELECT o_orderkey,
      |  date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS days_to_end,
      |  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS order_month,
      |  substring(o_orderpriority, 1, 1) AS prio_code,
      |  concat(o_orderstatus, '-', o_orderpriority) AS status_prio,
      |  CASE WHEN o_totalprice > 200000 THEN 'high'
      |       WHEN o_totalprice > 100000 THEN 'mid' ELSE 'low' END AS bucket
      |FROM orders ORDER BY o_orderkey""".stripMargin

  // --------------------------------------------------------------- Q14
  /** JSON path extraction from the events.props string column. */
  def q14Json(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("k", get_json_object(col("props"), "$.k").cast(LongType))
      .groupBy("event_type")
      .agg(sum(col("k")).as("sum_k"),
        count(col("k")).as("n_with_k"))
      .orderBy("event_type")

  val q14Sql: String =
    """SELECT event_type,
      |  CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
      |  COUNT(CAST(props->>'$.k' AS BIGINT)) AS n_with_k
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // --------------------------------------------------------------- Q15
  /** Tumbling 1-hour event aggregation (batch twin of the streaming
    * pipeline in graft.streaming). */
  def q15EventWindow(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        dsum(col("value")).as("sum_value"))
      .select(col("w.start").as("hour_start"), col("event_type"),
        col("n"), col("sum_value"))
      .orderBy("hour_start", "event_type")

  val q15Sql: String =
    """SELECT date_trunc('hour', ts) AS hour_start, event_type,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST("value" AS DECIMAL(30,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --------------------------------------------------------------- Q16
  /** Array ops over embeddings.embedding. Scalar float columns pass
    * through bit-exact; the array-valued slice is rendered array-free
    * for the hash harness (pandas cannot sort array columns) as JSON of
    * scaled-truncated ints: float→double promotion, ×1e9, trunc-to-zero
    * are all exact IEEE ops both engines compute identically — no
    * float-to-text formatting is ever compared. */
  def q16ArrayOps(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(
        col("vec_id"),
        size(col("embedding")).cast(LongType).as("dim"),
        element_at(col("embedding"), 1).as("first_val"),
        array_min(col("embedding")).as("min_val"),
        array_max(col("embedding")).as("max_val"),
        to_json(transform(slice(col("embedding"), 1, 4),
          x => (x.cast(DoubleType) * lit(1e9)).cast(LongType)))
          .as("head4_json"))
      .orderBy("vec_id")

  val q16Sql: String =
    """SELECT vec_id, len(embedding) AS dim, embedding[1] AS first_val,
      |  list_min(embedding) AS min_val, list_max(embedding) AS max_val,
      |  CAST(to_json(list_transform(embedding[1:4], x ->
      |    CAST(trunc(CAST(x AS DOUBLE) * 1e9) AS BIGINT))) AS VARCHAR)
      |    AS head4_json
      |FROM embeddings ORDER BY vec_id""".stripMargin

  // --------------------------------------------------------------- Q17
  /** approx_count_distinct (HLL++) as a QUANTITATIVE error gate: the
    * sketch estimate must land within 2% of the exact distinct count
    * per group. Sketch values are implementation-defined, so the
    * estimate itself can never hash-match an external engine — but the
    * error BOUND can, which makes the sketch's accuracy (the property
    * that matters) the oracle-checked output. rsd 0.005 puts 2% at a
    * 4-sigma envelope (observed error ≤ 0.07% across SFs, GateProbe);
    * the default-rsd sketch behavior stays spec-tested. */
  def q17ApproxDistinct(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(approx_count_distinct(col("user_id"), 0.005).as("approx_users"),
        countDistinct(col("user_id")).as("exact_users"))
      .select(col("event_type"), col("exact_users"),
        (abs(col("approx_users") - col("exact_users")) * 100 <=
          col("exact_users") * 2).cast(LongType).as("within_2pct"))
      .orderBy("event_type")

  val q17Sql: String =
    """SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
      |  CAST(1 AS BIGINT) AS within_2pct
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // --------------------------------------------------------------- Q18
  /** Sessionization via analytic windows: a new session starts after a
    * >30-minute gap; session id = running count of session starts. */
  def q18Sessionization(s: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(s, d)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_s",
        when(col("prev_ts").isNull ||
          col("ts").cast(LongType) - col("prev_ts").cast(LongType) > 1800,
          1L).otherwise(0L))
      .withColumn("session_id",
        sum("new_s").over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"))
      .orderBy("user_id", "session_id")
  }

  val q18Sql: String =
    """WITH x AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch_us(ts)//1000000 - epoch_us(lag(ts) OVER w)//1000000 > 1800
      |         THEN 1 ELSE 0 END AS new_s
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (
      |  SELECT user_id,
      |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                     ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM x)
      |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
      |  COUNT(*) AS n_events
      |FROM s GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin

  // --------------------------------------------------------------- Q19
  /** session_window batch aggregation (same state machine Structured
    * Streaming uses; streaming twin spec-tested in EventsStreamSpec). */
  def q19SessionWindow(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), unix_micros(col("w.start")).as("session_start_us"),
        col("n_events"))
      .orderBy("user_id", "session_start_us")

  val q19Sql: String =
    """WITH x AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
      |         THEN 1 ELSE 0 END AS new_s
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (
      |  SELECT user_id, ts,
      |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                     ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM x)
      |SELECT user_id, CAST(MIN(epoch_us(ts)) AS BIGINT) AS session_start_us,
      |  COUNT(*) AS n_events
      |FROM s GROUP BY user_id, session_id
      |ORDER BY user_id, session_start_us""".stripMargin

  // --------------------------------------------------------------- Q21
  /** CUBE grouping sets (all 4 combinations of status × priority). */
  def q21Cube(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .cube("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("total"))
      .orderBy(col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)

  val q21Sql: String =
    """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS total
      |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
      |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin

  // --------------------------------------------------------------- Q22
  /** Cross join (dimension × dimension lattice). */
  def q22CrossJoin(s: SparkSession, d: String): DataFrame =
    Tables.region(s, d).crossJoin(Tables.nation(s, d))
      .select("r_name", "n_name")
      .orderBy("r_name", "n_name")

  val q22Sql: String =
    """SELECT r_name, n_name FROM region CROSS JOIN nation
      |ORDER BY r_name, n_name""".stripMargin

  // --------------------------------------------------------------- Q29
  /** Generator (UDTF) family — posexplode: one output row per array
    * element with its position, the lateral-view shape. Executes as
    * Spark's Generate operator (no join, no shuffle; output rows
    * stream from the scan). */
  def q29Generators(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .select(col("p_partkey"),
        posexplode(graft.functions.TextOps.tokens(col("p_name"))))
      .select(col("p_partkey"), col("pos").cast(LongType),
        col("col").as("word"))
      .orderBy("p_partkey", "pos")

  val q29Sql: String =
    """SELECT p_partkey, CAST(s.pos AS BIGINT) AS pos, s.word AS word
      |FROM (SELECT p_partkey, unnest(list_transform(range(1, len(w)+1),
      |        i -> {'pos': i - 1, 'word': w[i]})) AS s
      |      FROM (SELECT p_partkey,
      |              list_filter(string_split(p_name, ' '), x -> x <> '') AS w
      |            FROM part))
      |ORDER BY p_partkey, pos""".stripMargin

  // --------------------------------------------------------------- Q20
  /** Streaming twin of Q15: the same tumbling-window aggregation
    * executed by the Structured Streaming engine (file source →
    * watermark → windowed agg → memory sink), checked against the same
    * batch oracle SQL. */
  def q20StreamTumbling(s: SparkSession, d: String): DataFrame = {
    import graft.streaming.EventsStream
    val out = EventsStream.runToCompletion(s,
      sess => EventsStream.tumblingHourly(EventsStream.readEvents(sess, d)),
      "q20_stream_tumbling_mem")
    out.orderBy("hour_start", "event_type")
  }

  /** q31: stream-stream interval join — q30's pair stage executed by
    * the Structured Streaming engine (two watermarked sides, time-
    * range join condition bounding state), checked against the same
    * relational answer DuckDB computes. */
  def q31StreamIntervalJoin(s: SparkSession, d: String): DataFrame = {
    import graft.streaming.EventsStream
    EventsStream.runToCompletion(s,
        sess => EventsStream.errorPurchasePairs(EventsStream.readEvents(sess, d)),
        "q31_stream_interval_join_mem", outputMode = "append")
      .orderBy("error_id", "p_id")
  }

  /** q37: Spark's BUILT-IN watermark-bounded streaming dedup
    * (`dropDuplicatesWithinWatermark`) — 10k events collapse to their
    * 750 distinct (user, type) keys; emitting only the keys makes the
    * survivor choice irrelevant and the answer equal to batch
    * DISTINCT, which DuckDB recomputes as the oracle. The horizon is
    * ≥ the corpus' event-time span (a bounded-backfill contract), so
    * no key's state can expire between micro-batches and the DISTINCT
    * equivalence holds for ANY file/batch split — not just the
    * single-file fixture. (The custom digest/index dedup streams are
    * spec-matched elsewhere; this pins the native operator.) */
  def q37StreamDedup(s: SparkSession, d: String): DataFrame = {
    import graft.streaming.EventsStream
    val deduped = (sess: SparkSession) => EventsStream.readEvents(sess, d)
      .withWatermark("ts", "90 days")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select("user_id", "event_type")
    EventsStream.runToCompletion(s, deduped, "q37_stream_dedup_mem",
        outputMode = "append")
      .orderBy("user_id", "event_type")
  }

  val q37Sql: String =
    """SELECT DISTINCT user_id, event_type FROM events
      |ORDER BY user_id, event_type""".stripMargin

  val q31Sql: String =
    """SELECT e.event_id AS error_id, p.event_id AS p_id
      |FROM events e JOIN events p
      |  ON e.event_type = 'error' AND p.event_type = 'purchase'
      | AND p.ts >= e.ts AND p.ts < e.ts + INTERVAL 10 MINUTE
      |ORDER BY error_id, p_id""".stripMargin

  // --------------------------------------------------------------- Q23
  /** Pivot: event counts per user-bucket × event type. Explicit value
    * list keeps column order deterministic. */
  def q23Pivot(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("user_bucket", pmod(col("user_id"), lit(10L)))
      .groupBy("user_bucket")
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("user_bucket")

  val q23Sql: String =
    """SELECT user_id % 10 AS user_bucket,
      |  COUNT(*) FILTER (WHERE event_type = 'click') AS click,
      |  COUNT(*) FILTER (WHERE event_type = 'error') AS error,
      |  COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
      |  COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
      |  COUNT(*) FILTER (WHERE event_type = 'view') AS "view"
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- Q24
  /** Exact percentiles (linear interpolation — the ANSI
    * PERCENTILE_CONT definition both engines implement). */
  def q24Percentile(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        expr("percentile(l_quantity, 0.5)").as("median_qty"),
        expr("percentile(l_extendedprice, 0.9)").as("p90_price"))
      .orderBy("l_returnflag")

  val q24Sql: String =
    """SELECT l_returnflag,
      |  quantile_cont(l_quantity, 0.5) AS median_qty,
      |  quantile_cont(l_extendedprice, 0.9) AS p90_price
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // --------------------------------------------------------------- Q25
  /** String/null scalar battery: case ops, trim/pad, replace, regexp,
    * coalesce/nullif/greatest/least. */
  def q25StringBattery(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .select(
        col("c_custkey"),
        upper(col("c_name")).as("name_upper"),
        lower(col("c_mktsegment")).as("seg_lower"),
        length(trim(col("c_name"))).cast(LongType).as("name_len"),
        lpad(col("c_custkey").cast(StringType), 10, "0").as("key_padded"),
        regexp_replace(col("c_name"), "[0-9]+", "#").as("name_masked"),
        coalesce(nullif(col("c_mktsegment"), lit("BUILDING")),
          lit("OTHER")).as("seg_or_other"),
        greatest(col("c_acctbal"), lit(0.0)).as("bal_floor"),
        least(col("c_acctbal"), lit(5000.0)).as("bal_cap"))
      .orderBy("c_custkey")

  val q25Sql: String =
    """SELECT c_custkey,
      |  upper(c_name) AS name_upper,
      |  lower(c_mktsegment) AS seg_lower,
      |  CAST(length(trim(c_name)) AS BIGINT) AS name_len,
      |  lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS key_padded,
      |  regexp_replace(c_name, '[0-9]+', '#', 'g') AS name_masked,
      |  coalesce(nullif(c_mktsegment, 'BUILDING'), 'OTHER') AS seg_or_other,
      |  greatest(c_acctbal, 0.0) AS bal_floor,
      |  least(c_acctbal, 5000.0) AS bal_cap
      |FROM customer ORDER BY c_custkey""".stripMargin

  // --------------------------------------------------------------- Q26
  /** Window analytics battery: lead/lag/first/last + running frame agg
    * over each customer's order history. */
  def q26WindowAnalytics(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    val frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"),
        first(col("o_totalprice")).over(frame).as("first_price"),
        sum(col("o_totalprice").cast(DecimalType(30, 2))).over(frame)
          .cast(DoubleType).as("running_spend"),
        row_number().over(w).cast(LongType).as("order_seq"))
      .orderBy("o_custkey", "order_seq")
  }

  val q26Sql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice,
      |  lag(o_totalprice, 1) OVER w AS prev_price,
      |  lead(o_totalprice, 1) OVER w AS next_price,
      |  first_value(o_totalprice) OVER
      |    (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_price,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) OVER
      |    (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      |    AS running_spend,
      |  CAST(ROW_NUMBER() OVER w AS BIGINT) AS order_seq
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, order_seq""".stripMargin

  // --------------------------------------------------------------- Q27
  /** As-of join — for each purchase, the user's most recent prior (or
    * simultaneous) click. Spark lacks a native ASOF JOIN; composed per
    * the compose-first rule: tag + union both sides, one window pass
    * carrying the last click id forward, keep purchase rows. One
    * shuffle on user_id — no range cross-product, no N² — versus the
    * naive join+filter+rank which shuffles every (purchase × click)
    * pair per user. */
  def q27AsofJoin(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    // pre-reduce clicks to one row per (user_id, ts): ASOF tie-break
    // among equal-ts matches is engine-unspecified, so pin it to
    // max(event_id) on BOTH sides rather than rely on fixture luck
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("event_id"))
      .select(col("user_id"), col("ts"), col("event_id"), lit(0).as("kind"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"), lit(1).as("kind"))
    // clicks sort before purchases on ts ties (kind 0 < 1), so an
    // equal-ts click is visible to the purchase — ASOF's <= semantics
    val w = Window.partitionBy("user_id").orderBy("ts", "kind", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    clicks.unionByName(purchases)
      .withColumn("click_id",
        last(when(col("kind") === 0, col("event_id")), ignoreNulls = true)
          .over(w))
      .filter(col("kind") === 1)
      .select(col("event_id").as("purchase_id"), col("click_id"))
      .orderBy("purchase_id")
  }

  val q27Sql: String =
    """SELECT p.event_id AS purchase_id, c.event_id AS click_id
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |ASOF LEFT JOIN (SELECT user_id, ts, MAX(event_id) AS event_id
      |                FROM events WHERE event_type = 'click'
      |                GROUP BY user_id, ts) c
      |  ON p.user_id = c.user_id AND c.ts <= p.ts
      |ORDER BY purchase_id""".stripMargin

  // --------------------------------------------------------------- Q28
  /** Correlated + scalar subqueries through the SQL text interface:
    * ONE SQL string runs verbatim on Spark (temp views over the same
    * parquet) and on DuckDB — Catalyst decorrelates the correlated
    * aggregate into a join; the threshold is an exact decimal sum so
    * both engines compute the identical double. */
  val q28Sql: String =
    """SELECT c_custkey, c_name FROM customer c
      |WHERE c_custkey IN (SELECT o_custkey FROM orders)
      |  AND (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE)
      |       FROM orders o WHERE o.o_custkey = c.c_custkey)
      |      > 2 * (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE)
      |               / COUNT(DISTINCT o_custkey) FROM orders)
      |ORDER BY c_custkey""".stripMargin

  def q28Subqueries(s: SparkSession, d: String): DataFrame = {
    Tables.registerAll(s, d)
    s.sql(q28Sql)
  }

  // --------------------------------------------------------------- Q35
  /** q35: IN / EXISTS / NOT-IN membership semantics — one verbatim SQL
    * string on both engines (the q28 trick). The third count pins the
    * classic NOT IN three-valued-logic trap: the subquery set contains
    * a NULL, so NO row satisfies NOT IN (x <> NULL is unknown) — a
    * semantics bug magnet every engine must agree on. */
  val q35Sql: String =
    """SELECT
      |  (SELECT COUNT(*) FROM customer c
      |   WHERE NOT EXISTS (SELECT 1 FROM orders o
      |                     WHERE o.o_custkey = c.c_custkey)) AS n_no_orders,
      |  (SELECT COUNT(*) FROM orders
      |   WHERE o_custkey IN (SELECT c_custkey FROM customer
      |                       WHERE c_acctbal > 5000)) AS n_rich_cust_orders,
      |  (SELECT COUNT(*) FROM orders
      |   WHERE o_custkey NOT IN (SELECT CASE WHEN c_acctbal < 0 THEN NULL
      |                                       ELSE c_custkey END
      |                           FROM customer)) AS n_notin_with_null""".stripMargin

  def q35InExists(s: SparkSession, d: String): DataFrame = {
    Tables.registerAll(s, d)
    s.sql(q35Sql)
  }

  // --------------------------------------------------------------- Q36
  /** q36: date/time battery — extraction, truncation, arithmetic with
    * month-end clamping, ISO weeks, day deltas. Cross-engine traps
    * pinned explicitly: Spark's dayofweek is 1=Sunday while DuckDB's
    * is 0=Sunday (normalized to 0-based here); Spark `trunc` keeps
    * DATE (its `date_trunc` widens to TIMESTAMP, DuckDB's does not);
    * both engines clamp add-month at month end (Jan 31 + 1mo =
    * Feb 28). */
  def q36DatetimeBattery(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .withColumn("od", col("o_orderdate").cast(DateType))
      .select(col("o_orderkey"), col("od"),
        year(col("od")).cast(LongType).as("yr"),
        quarter(col("od")).cast(LongType).as("qtr"),
        month(col("od")).cast(LongType).as("mon"),
        dayofmonth(col("od")).cast(LongType).as("dom"),
        (dayofweek(col("od")) - 1).cast(LongType).as("dow0"),
        weekofyear(col("od")).cast(LongType).as("iso_week"),
        trunc(col("od"), "month").as("month_start"),
        last_day(col("od")).as("month_end"),
        date_add(col("od"), 30).as("plus30"),
        add_months(col("od"), 1).as("plus1mo"),
        datediff(col("od"), lit("1992-01-01").cast(DateType))
          .cast(LongType).as("days_since_92"))
      .orderBy("o_orderkey")

  val q36Sql: String =
    """SELECT o_orderkey, od,
      |  CAST(year(od) AS BIGINT) AS yr,
      |  CAST(quarter(od) AS BIGINT) AS qtr,
      |  CAST(month(od) AS BIGINT) AS mon,
      |  CAST(dayofmonth(od) AS BIGINT) AS dom,
      |  CAST(dayofweek(od) AS BIGINT) AS dow0,
      |  CAST(weekofyear(od) AS BIGINT) AS iso_week,
      |  date_trunc('month', od) AS month_start,
      |  last_day(od) AS month_end,
      |  od + 30 AS plus30,
      |  CAST(od + INTERVAL 1 MONTH AS DATE) AS plus1mo,
      |  date_diff('day', DATE '1992-01-01', od) AS days_since_92
      |FROM (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS od FROM orders)
      |ORDER BY o_orderkey""".stripMargin

  // --------------------------------------------------------------- Q30
  /** Range join with NO equi-key — purchases landing in the 10-minute
    * window after any error event, aggregated per error. The naive
    * Spark plan for this shape is a broadcast nested-loop over the
    * cross product; [[graft.operators.RangeJoin]] buckets time so it
    * runs as a shuffle equi-join on the bucket id (work scales with
    * temporal overlap, not |errors|×|purchases|). DuckDB's IEJoin
    * computes the same answer natively — the oracle for the bucketed
    * rewrite. */
  def q30IntervalJoin(s: SparkSession, d: String): DataFrame = {
    import graft.operators.RangeJoin
    val ev = Tables.events(s, d)
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("error_id"), col("ts").as("w_start"),
        (col("ts") + expr("INTERVAL 10 MINUTES")).as("w_end"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("ts").as("p_ts"),
        col("value").as("p_value"))
    val perError = RangeJoin.pointInInterval(purchases, errors,
        "p_ts", "w_start", "w_end", bucketSeconds = 600L)
      .groupBy("error_id")
      .agg(count(lit(1)).as("n_purchases"),
        dsum(col("p_value")).as("sum_value"))
    errors.select("error_id")
      .join(perError, Seq("error_id"), "left")
      .select(col("error_id"),
        coalesce(col("n_purchases"), lit(0L)).as("n_purchases"),
        coalesce(col("sum_value"), lit(0.0)).as("sum_value"))
      .orderBy("error_id")
  }

  val q30Sql: String =
    """WITH e AS (SELECT event_id AS error_id, ts AS w_start,
      |             ts + INTERVAL 10 MINUTE AS w_end
      |           FROM events WHERE event_type = 'error'),
      |p AS (SELECT event_id, ts, "value" FROM events
      |      WHERE event_type = 'purchase')
      |SELECT e.error_id AS error_id,
      |  COUNT(p.event_id) AS n_purchases,
      |  COALESCE(CAST(SUM(CAST(p."value" AS DECIMAL(30,2))) AS DOUBLE),
      |           0.0) AS sum_value
      |FROM e LEFT JOIN p ON p.ts >= e.w_start AND p.ts < e.w_end
      |GROUP BY e.error_id ORDER BY error_id""".stripMargin

  // --------------------------------------------------------------- Q32
  /** q32: the NAIVE formulation of the q30/q31 interval join — the
    * range condition written directly, no manual bucketing. The
    * [[graft.plans.RangeJoinRewrite]] optimizer rule (installed by
    * GraftSession via GraftExtensions) supplies the bucketed
    * equi-join plan automatically; RangeJoinRewriteSpec pins that the
    * plan really is the rewritten one (no nested loop). Same oracle
    * as q31: DuckDB's IEJoin computes the identical answer natively. */
  def q32RangeJoinAuto(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("error_id"), col("ts").as("e_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("ts").as("p_ts"))
    purchases.join(errors,
        col("p_ts") >= col("e_ts") &&
          col("p_ts") < col("e_ts") + expr("INTERVAL 10 MINUTES"))
      .select("error_id", "p_id")
      .orderBy("error_id", "p_id")
  }

  // --------------------------------------------------------------- Q33
  /** q33: RANGE window frame — per event, count and spend over the
    * user's trailing 10 minutes. The frame is value-based (peers by
    * order key, unlike q26's ROWS frames): ordered by epoch-micros
    * with a numeric range both engines define identically. One
    * shuffle on user_id; the frame scan is linear per partition. */
  def q33RangeFrame(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_us")
      .rangeBetween(-600000000L, 0L)
    Tables.events(s, d)
      .withColumn("ts_us", unix_micros(col("ts")))
      .select(col("event_id"), col("user_id"),
        count(lit(1)).over(w).as("n_10m"),
        sum(col("value").cast(DecimalType(30, 2))).over(w)
          .cast(DoubleType).as("sum_10m"))
      .orderBy("event_id")
  }

  val q33Sql: String =
    """SELECT event_id, user_id,
      |  COUNT(*) OVER w AS n_10m,
      |  CAST(SUM(CAST("value" AS DECIMAL(30,2))) OVER w AS DOUBLE) AS sum_10m
      |FROM (SELECT event_id, user_id, epoch_us(ts) AS ts_us, "value"
      |      FROM events)
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
      |             RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW)
      |ORDER BY event_id""".stripMargin

  // --------------------------------------------------------------- Q34
  /** q34: ranking-function battery — dense_rank, percent_rank,
    * cume_dist, ntile over one window (the rank family q08/q26 leave
    * uncovered). Doubles from percent_rank/cume_dist are exact
    * rationals (rank arithmetic), so they hash identically across
    * engines. */
  def q34RankBattery(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderpriority"),
        dense_rank().over(w).cast(LongType).as("drank"),
        percent_rank().over(w).as("prank"),
        cume_dist().over(w).as("cdist"),
        ntile(4).over(w).cast(LongType).as("quartile"))
      .orderBy("o_orderkey")
  }

  val q34Sql: String =
    """SELECT o_orderkey, o_orderpriority,
      |  CAST(DENSE_RANK() OVER w AS BIGINT) AS drank,
      |  PERCENT_RANK() OVER w AS prank,
      |  CUME_DIST() OVER w AS cdist,
      |  CAST(NTILE(4) OVER w AS BIGINT) AS quartile
      |FROM orders
      |WINDOW w AS (PARTITION BY o_orderpriority
      |             ORDER BY o_totalprice, o_orderkey)
      |ORDER BY o_orderkey""".stripMargin

  // --------------------------------------------------------------- Q38
  /** q38: the NAIVE formulation of a fuzzy self-join — the levenshtein
    * threshold written directly in the join condition, no manual
    * banding. [[graft.plans.EditDistanceJoinRewrite]] supplies the
    * length-band blocked plan automatically (q32's pattern for the
    * edit-distance family); EditDistanceJoinRewriteSpec pins that the
    * plan is the rewritten one. Scoped to size-1 parts: band-only
    * blocking over the whole corpus would BE the corpus-wide near-dup
    * answer — a result-size choice, not a plan limit. */
  def q38FuzzyJoinAuto(s: SparkSession, d: String): DataFrame = {
    val p = Tables.part(s, d).filter(col("p_size") === 1)
    val a = p.select(col("p_partkey").as("a_id"), col("p_name").as("a_name"))
    val b = p.select(col("p_partkey").as("b_id"), col("p_name").as("b_name"))
    a.join(b,
        levenshtein(col("a_name"), col("b_name")) <= 2 &&
          col("a_id") < col("b_id"))
      .select("a_id", "b_id")
      .orderBy("a_id", "b_id")
  }

  val q38Sql: String =
    """WITH p AS (SELECT p_partkey, p_name FROM part WHERE p_size = 1)
      |SELECT a.p_partkey AS a_id, b.p_partkey AS b_id
      |FROM p a JOIN p b ON a.p_partkey < b.p_partkey
      |WHERE levenshtein(a.p_name, b.p_name) <= 2
      |ORDER BY a_id, b_id""".stripMargin

  // --------------------------------------------------------------- Q39
  /** q39: multiplicity-preserving set ops (INTERSECT ALL / EXCEPT ALL
    * — bag semantics q12's distinct variants don't cover: result
    * multiplicity is min(nA,nB) and max(nA−nB,0) per value). Counts
    * per surviving value make the bag deterministic to compare. */
  def q39SetOpsAll(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val a = ev.filter(col("event_type") === "click").select("user_id")
    val b = ev.filter(col("event_type") === "view").select("user_id")
    a.intersectAll(b).groupBy("user_id").agg(count(lit(1)).as("n"))
      .withColumn("op", lit("intersect_all"))
      .unionByName(
        a.exceptAll(b).groupBy("user_id").agg(count(lit(1)).as("n"))
          .withColumn("op", lit("except_all")))
      .select("op", "user_id", "n")
      .orderBy("op", "user_id")
  }

  val q39Sql: String =
    """WITH a AS (SELECT user_id FROM events WHERE event_type = 'click'),
      |     b AS (SELECT user_id FROM events WHERE event_type = 'view')
      |SELECT 'intersect_all' AS op, user_id, COUNT(*) AS n
      |FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b) GROUP BY user_id
      |UNION ALL
      |SELECT 'except_all' AS op, user_id, COUNT(*) AS n
      |FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b) GROUP BY user_id
      |ORDER BY op, user_id""".stripMargin

  // --------------------------------------------------------------- Q40
  /** q40: GROUPING SETS with grouping() — the explicit multi-set form
    * that rollup (q09) and cube (q21) are shorthands for, plus the
    * grouping-indicator arithmetic reports use to tell subtotal rows
    * apart. One SQL string verbatim on both engines (q28/q35 pattern);
    * COALESCE keeps the ORDER BY free of engine NULL-ordering
    * differences. Plan: Catalyst expands to a single Expand + hash
    * aggregate — one shuffle for all four sets. */
  val q40Sql: String =
    """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
      |  COALESCE(o_orderpriority, 'ALL') AS priority,
      |  CAST(GROUPING(o_orderstatus) AS BIGINT) * 2 +
      |    CAST(GROUPING(o_orderpriority) AS BIGINT) AS gid,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS total_price
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
      |                        (o_orderstatus), (o_orderpriority), ())
      |ORDER BY gid, status, priority""".stripMargin

  def q40GroupingSets(s: SparkSession, d: String): DataFrame = {
    Tables.registerAll(s, d)
    s.sql(q40Sql)
  }

  // --------------------------------------------------------------- Q41
  /** q41: higher-order function battery — transform / filter / exists /
    * forall / aggregate / zip_with over token arrays, all evaluated
    * in-row inside the scan's projection (no shuffle, no UDF). Integer
    * and string outputs only, so both engines hash identically. */
  def q41HofBattery(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), graft.functions.TextOps.tokens(col("text")).as("w"))
      .select(col("doc_id"),
        size(col("w")).cast(LongType).as("n_words"),
        size(filter(col("w"), x => length(x) > 6)).cast(LongType).as("n_long"),
        exists(col("w"), x => length(x) > 12).as("has_long12"),
        forall(col("w"), x => length(x) < 40).as("all_short"),
        aggregate(col("w"), lit(0L), (acc, x) => acc + length(x))
          .as("total_chars"),
        size(array_distinct(col("w"))).cast(LongType).as("n_distinct"),
        array_join(transform(slice(col("w"), 1, 3), x => lower(x)), " ")
          .as("head3"),
        array_join(zip_with(slice(col("w"), 1, 3),
          slice(reverse(col("w")), 1, 3),
          (a, b) => concat_ws("_", a, b)), " ").as("ends_zip"))
      .orderBy("doc_id")

  val q41Sql: String =
    """WITH tok AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(len(w) AS BIGINT) AS n_words,
      |  CAST(len(list_filter(w, x -> length(x) > 6)) AS BIGINT) AS n_long,
      |  len(list_filter(w, x -> length(x) > 12)) > 0 AS has_long12,
      |  len(list_filter(w, x -> length(x) >= 40)) = 0 AS all_short,
      |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    list_transform(w, x -> CAST(length(x) AS BIGINT))),
      |    (a, b) -> a + b) AS BIGINT) AS total_chars,
      |  CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct,
      |  array_to_string(list_transform(list_slice(w, 1, 3), x -> lower(x)), ' ')
      |    AS head3,
      |  array_to_string(list_transform(range(1, least(len(w), 3) + 1),
      |    i -> list_slice(w, 1, 3)[i] || '_' || list_slice(list_reverse(w), 1, 3)[i]),
      |    ' ') AS ends_zip
      |FROM tok ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- Q42
  /** q42: time-series gap-fill — per user, a dense hourly grid from
    * first to last event with zero-filled counts and the last non-null
    * hourly spend carried forward (sequence + explode for the grid,
    * left join, last(ignoreNulls) window for the fill — the standard
    * resample/ffill shape). Scoped to the first week so the grid stays
    * proportional to the interesting window. One shuffle on user_id;
    * the grid explode is per-row. */
  def q42GapFill(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .filter(col("ts") < lit("2024-01-08").cast(TimestampType))
      .withColumn("hr", date_trunc("hour", col("ts")))
    val perHour = ev.groupBy("user_id", "hr")
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("spend"))
    val grid = ev.groupBy("user_id")
      .agg(min(col("hr")).as("h0"), max(col("hr")).as("h1"))
      .select(col("user_id"),
        explode(sequence(col("h0"), col("h1"), expr("INTERVAL 1 HOUR")))
          .as("hr"))
    val wf = Window.partitionBy("user_id").orderBy("hr")
    grid.join(perHour, Seq("user_id", "hr"), "left")
      .select(col("user_id"), col("hr"),
        coalesce(col("n"), lit(0L)).as("n_events"),
        last(col("spend"), ignoreNulls = true).over(wf).as("filled_spend"))
      .orderBy("user_id", "hr")
  }

  val q42Sql: String =
    """WITH ev AS (SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr,
      |              "value"
      |            FROM events WHERE ts < TIMESTAMP '2024-01-08'),
      |ph AS (SELECT user_id, hr, COUNT(*) AS n,
      |         CAST(SUM(CAST("value" AS DECIMAL(30,2))) AS DOUBLE) AS spend
      |       FROM ev GROUP BY user_id, hr),
      |b AS (SELECT user_id, min(hr) AS h0, max(hr) AS h1 FROM ev GROUP BY user_id),
      |grid AS (SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hr
      |         FROM b)
      |SELECT g.user_id AS user_id, g.hr AS hr,
      |  COALESCE(ph.n, 0) AS n_events,
      |  last_value(ph.spend IGNORE NULLS)
      |    OVER (PARTITION BY g.user_id ORDER BY g.hr) AS filled_spend
      |FROM grid g LEFT JOIN ph ON ph.user_id = g.user_id AND ph.hr = g.hr
      |ORDER BY user_id, hr""".stripMargin

  // --------------------------------------------------------------- Q43
  /** q43: unpivot/melt — wide measures to long (measure, value) rows
    * via the native Dataset.unpivot (Expand node, no shuffle, no
    * generator). Values pass through unchanged, so hashing is exact. */
  def q43Unpivot(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_orderkey") <= 100)
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"),
          col("l_tax")),
        "measure", "val")
      .orderBy("l_orderkey", "l_linenumber", "measure")

  val q43Sql: String =
    """WITH li AS (SELECT * FROM lineitem WHERE l_orderkey <= 100)
      |SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS val
      |FROM li
      |UNION ALL SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
      |FROM li
      |UNION ALL SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM li
      |UNION ALL SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM li
      |ORDER BY l_orderkey, l_linenumber, measure""".stripMargin

  // --------------------------------------------------------------- Q44
  /** q44: recursive CTE (Spark 4's WITH RECURSIVE) — a monthly
    * calendar series unfolded by recursion, each month counting its
    * orders through a correlated scalar subquery (which Catalyst
    * decorrelates into a join against the series). Empty months stay
    * in the result — the recursion-based cousin of q42's
    * sequence-based gap-fill. One SQL string verbatim on both
    * engines. Scale note: the recursion is 84 driver-side iterations
    * over a one-row-per-month frame — series generation at scale
    * belongs to sequence()/explode (q42); this pins the general
    * fixed-point operator. */
  val q44Sql: String =
    """WITH RECURSIVE months(m) AS (
      |  SELECT DATE '1992-01-01'
      |  UNION ALL
      |  SELECT CAST(m + INTERVAL 1 MONTH AS DATE) FROM months
      |  WHERE m < DATE '1998-12-01')
      |SELECT m,
      |  (SELECT COUNT(*) FROM orders
      |   WHERE CAST(o_orderdate AS DATE) >= m
      |     AND CAST(o_orderdate AS DATE) < CAST(m + INTERVAL 1 MONTH AS DATE))
      |    AS n_orders
      |FROM months ORDER BY m""".stripMargin

  def q44RecursiveCte(s: SparkSession, d: String): DataFrame = {
    Tables.registerAll(s, d)
    s.sql(q44Sql)
  }

  // --------------------------------------------------------------- Q45
  /** q45: correlated LATERAL subquery — top-1 order per customer via a
    * per-row ordered+limited derived table (the SQL-standard spelling
    * of q08's window top-k). Catalyst rewrites the lateral into a
    * join; customers with no orders drop (inner lateral). Verbatim
    * SQL on both engines. */
  val q45Sql: String =
    """SELECT c_custkey, t.o_orderkey AS top_orderkey,
      |  t.o_totalprice AS top_price
      |FROM customer, LATERAL (
      |  SELECT o_orderkey, o_totalprice FROM orders
      |  WHERE o_custkey = c_custkey
      |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 1) t
      |ORDER BY c_custkey""".stripMargin

  def q45Lateral(s: SparkSession, d: String): DataFrame = {
    Tables.registerAll(s, d)
    s.sql(q45Sql)
  }

  // --------------------------------------------------------------- Q46
  /** q46: null-safe equality join — IS NOT DISTINCT FROM as a JOIN
    * key, where NULL matches NULL (q35 pinned NOT IN's three-valued
    * trap; this pins the null-SAFE side). Spark plans EqualNullSafe as
    * a hash-joinable key — null-safe joins get the same shuffle
    * equi-join as plain equality, not a nested loop. Verbatim SQL on
    * both engines. */
  val q46Sql: String =
    """WITH a AS (SELECT o_orderkey, CASE WHEN o_orderkey % 3 = 0 THEN NULL
      |                ELSE o_orderstatus END AS s
      |           FROM orders WHERE o_orderkey <= 50),
      |b AS (SELECT o_orderkey, CASE WHEN o_orderkey % 5 = 0 THEN NULL
      |        ELSE o_orderstatus END AS s
      |      FROM orders WHERE o_orderkey <= 50)
      |SELECT a.o_orderkey AS a_key, b.o_orderkey AS b_key
      |FROM a JOIN b ON a.s IS NOT DISTINCT FROM b.s
      |  AND a.o_orderkey <= b.o_orderkey
      |ORDER BY a_key, b_key""".stripMargin

  def q46NullSafeJoin(s: SparkSession, d: String): DataFrame = {
    Tables.registerAll(s, d)
    s.sql(q46Sql)
  }

  // --------------------------------------------------------------- Q47
  /** q47: TPC-H Q15 shape — an aggregated revenue CTE joined back to
    * its dimension, filtered by a scalar subquery over the same CTE
    * (top-revenue supplier). The revenue doubles go through the exact
    * decimal-sum discipline, so the MAX and the equality agree across
    * engines. Catalyst plans the CTE once per reference with the
    * scalar as a one-row broadcast. */
  val q47Sql: String =
    """WITH revenue AS (
      |  SELECT l_suppkey AS supplier_no,
      |    CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(30,6))) AS DOUBLE)
      |      AS total_revenue
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |    AND l_shipdate < TIMESTAMP '1996-04-01'
      |  GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name, total_revenue
      |FROM supplier JOIN revenue ON s_suppkey = supplier_no
      |WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
      |ORDER BY s_suppkey""".stripMargin

  def q47TopRevenue(s: SparkSession, d: String): DataFrame = {
    Tables.registerAll(s, d)
    s.sql(q47Sql)
  }

  // --------------------------------------------------------------- Q48
  /** q48: TPC-H Q18 shape — large-volume orders: IN over a grouped
    * HAVING subquery, then a three-table join re-aggregated per order.
    * The IN subquery plans as a semi-join on orderkey (no
    * materialized id list). */
  val q48Sql: String =
    """SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS sum_qty
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE o_orderkey IN (
      |  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      |  HAVING SUM(CAST(l_quantity AS DECIMAL(30,2))) > 250)
      |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
      |ORDER BY o_totalprice DESC, o_orderkey""".stripMargin

  def q48LargeOrders(s: SparkSession, d: String): DataFrame = {
    Tables.registerAll(s, d)
    s.sql(q48Sql)
  }

  // --------------------------------------------------------------- Q49
  /** q49: TPC-H Q21 shape — suppliers who were the ONLY late shipper
    * of a multi-supplier order: EXISTS + NOT EXISTS both correlated to
    * the outer lineitem AND the outer order (lateness here is shipdate
    * > orderdate + 60 days; the fixture has no commit/receipt dates).
    * The hardest decorrelation pattern in the classic suite — both
    * subqueries become joins on orderkey. */
  val q49Sql: String =
    """SELECT s_name, COUNT(*) AS numwait
      |FROM supplier, lineitem l1, orders
      |WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
      |  AND o_orderstatus = 'F'
      |  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
      |  AND EXISTS (SELECT * FROM lineitem l2
      |              WHERE l2.l_orderkey = l1.l_orderkey
      |                AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT * FROM lineitem l3
      |                  WHERE l3.l_orderkey = l1.l_orderkey
      |                    AND l3.l_suppkey <> l1.l_suppkey
      |                    AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
      |GROUP BY s_name
      |ORDER BY numwait DESC, s_name""".stripMargin

  def q49WaitingSupplier(s: SparkSession, d: String): DataFrame = {
    Tables.registerAll(s, d)
    s.sql(q49Sql)
  }

  // --------------------------------------------------------------- Q50
  /** q50: TPC-H Q22 shape — above-average-balance customers with no
    * recent orders: an uncorrelated scalar average (exact decimal-sum
    * form, so the threshold is bit-identical across engines) gating a
    * NOT EXISTS anti-join, re-aggregated by a derived code. */
  val q50Sql: String =
    """WITH eligible AS (
      |  SELECT c_custkey, c_nationkey % 5 AS code, c_acctbal FROM customer
      |  WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(30,2))) AS DOUBLE)
      |                       / COUNT(*)
      |                     FROM customer WHERE c_acctbal > 0.0))
      |SELECT code, COUNT(*) AS numcust,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(30,2))) AS DOUBLE) AS totacctbal
      |FROM eligible
      |WHERE NOT EXISTS (SELECT * FROM orders WHERE o_custkey = c_custkey
      |                  AND o_orderdate >= TIMESTAMP '1998-06-01')
      |GROUP BY code ORDER BY code""".stripMargin

  def q50LostCustomers(s: SparkSession, d: String): DataFrame = {
    Tables.registerAll(s, d)
    s.sql(q50Sql)
  }

  // --------------------------------------------------------------- Q51
  /** q51: map-typed column battery — build a map per user from an
    * aggregation (map_from_entries over a SORTED entry array, so entry
    * order is deterministic), then read it back through map_keys /
    * element_at / map_filter / transform_values. Maps serialize
    * through to_json for the hash compare (the harness cannot sort
    * map cells); the oracle reconstructs the same JSON with an
    * ordered string_agg. */
  def q51MapBattery(s: SparkSession, d: String): DataFrame = {
    val counts = Tables.events(s, d)
      .groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("n"))
    counts.groupBy("user_id")
      .agg(map_from_entries(sort_array(collect_list(
        struct(col("event_type"), col("n"))))).as("m"))
      .select(col("user_id"),
        to_json(col("m")).as("m_json"),
        size(col("m")).cast(LongType).as("n_types"),
        array_join(map_keys(col("m")), ",").as("keys"),
        // try_element_at: ANSI mode (Spark 4 default) makes plain
        // element_at THROW on a missing key; the oracle's MAX(CASE)
        // yields NULL — try_ is the matching null semantics
        try_element_at(col("m"), lit("purchase")).as("n_purchase"),
        to_json(map_filter(col("m"), (_, v) => v >= 15)).as("hot_json"),
        to_json(transform_values(col("m"), (_, v) => v * 2)).as("x2_json"))
      .orderBy("user_id")
  }

  val q51Sql: String =
    """WITH c AS (SELECT user_id, event_type, COUNT(*) AS n
      |           FROM events GROUP BY 1, 2)
      |SELECT user_id,
      |  '{' || string_agg(format('"{}":{}', event_type, n), ',' ORDER BY event_type)
      |    || '}' AS m_json,
      |  COUNT(*) AS n_types,
      |  string_agg(event_type, ',' ORDER BY event_type) AS keys,
      |  MAX(CASE WHEN event_type = 'purchase' THEN n END) AS n_purchase,
      |  '{' || coalesce(string_agg(
      |      CASE WHEN n >= 15 THEN format('"{}":{}', event_type, n) END,
      |      ',' ORDER BY event_type), '') || '}' AS hot_json,
      |  '{' || string_agg(format('"{}":{}', event_type, n * 2),
      |      ',' ORDER BY event_type) || '}' AS x2_json
      |FROM c GROUP BY user_id ORDER BY user_id""".stripMargin

  // --------------------------------------------------------------- Q52
  /** q52: statistical moments battery — sample variance, stddev, and
    * Pearson correlation per group, DERIVED from exact decimal sums
    * (Σx, Σy, Σx², Σy², Σxy) cast to double once, then one identical
    * IEEE expression on both engines. The built-in corr/var_samp
    * aggregate in parallel partial order, so their raw doubles are not
    * hash-comparable across engines — the moment form is (and a spec
    * pins it against Spark's built-ins: mean to 1e-9 relative,
    * var/corr to 1e-6). Variable pair chosen
    * so every moment sum stays under 2^53 decimal UNITS at any SF
    * (quantity ≤ 50, discount ≤ 0.10): a sum like Σprice² overflows
    * exact double range and the engines' decimal→double rounding then
    * differs by an ulp. Map-side partial aggregation applies to every
    * sum. */
  def q52StatsBattery(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).cast(DoubleType).as("n"),
        dsum(col("l_quantity")).as("sx"),
        dsum(col("l_discount")).as("sy"),
        dsum(col("l_quantity") * col("l_quantity"), 4).as("sxx"),
        dsum(col("l_discount") * col("l_discount"), 4).as("syy"),
        dsum(col("l_quantity") * col("l_discount"), 4).as("sxy"))
    li.select(col("l_returnflag"),
        col("n").cast(LongType).as("n_rows"),
        (col("sx") / col("n")).as("mean_qty"),
        ((col("n") * col("sxx") - col("sx") * col("sx")) /
          (col("n") * (col("n") - lit(1.0)))).as("var_qty"),
        sqrt((col("n") * col("sxx") - col("sx") * col("sx")) /
          (col("n") * (col("n") - lit(1.0)))).as("stddev_qty"),
        ((col("n") * col("sxy") - col("sx") * col("sy")) /
          sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
            (col("n") * col("syy") - col("sy") * col("sy"))))
          .as("corr_qty_disc"))
      .orderBy("l_returnflag")
  }

  val q52Sql: String =
    """WITH m AS (
      |  SELECT l_returnflag,
      |    CAST(COUNT(*) AS DOUBLE) AS n,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(l_discount AS DECIMAL(30,2))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(l_quantity*l_quantity AS DECIMAL(30,4))) AS DOUBLE) AS sxx,
      |    CAST(SUM(CAST(l_discount*l_discount AS DECIMAL(30,4))) AS DOUBLE) AS syy,
      |    CAST(SUM(CAST(l_quantity*l_discount AS DECIMAL(30,4))) AS DOUBLE) AS sxy
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT l_returnflag,
      |  CAST(n AS BIGINT) AS n_rows,
      |  sx / n AS mean_qty,
      |  (n * sxx - sx * sx) / (n * (n - 1.0)) AS var_qty,
      |  sqrt((n * sxx - sx * sx) / (n * (n - 1.0))) AS stddev_qty,
      |  (n * sxy - sx * sy) /
      |    sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) AS corr_qty_disc
      |FROM m ORDER BY l_returnflag""".stripMargin

  // --------------------------------------------------------------- Q53
  /** q53: fixed-width histogram — price distribution in 10k-wide bins
    * (feature binning / distribution profiling). floor of an exact
    * double division by a constant, then one hash agg; bin boundaries
    * are data-independent so the binning parallelizes trivially. */
  def q53Histogram(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(floor(col("l_extendedprice") / 10000.0).cast(LongType)
        .as("bin"))
      .agg(count(lit(1)).as("n"),
        min(col("l_extendedprice")).as("lo"),
        max(col("l_extendedprice")).as("hi"))
      .orderBy("bin")

  val q53Sql: String =
    """SELECT CAST(floor(l_extendedprice / 10000.0) AS BIGINT) AS bin,
      |  COUNT(*) AS n,
      |  MIN(l_extendedprice) AS lo,
      |  MAX(l_extendedprice) AS hi
      |FROM lineitem GROUP BY 1 ORDER BY bin""".stripMargin

  // --------------------------------------------------------------- Q54
  /** q54: the NAIVE formulation of a set-overlap self-join — the
    * array_intersect threshold written directly in the join condition.
    * [[graft.plans.OverlapJoinRewrite]] supplies the duplicate-free
    * inverted-index equi-join automatically (q32/q38's pattern for the
    * set-similarity family; OverlapJoinRewriteSpec pins the plan and
    * bag-equality vs the nested loop). Oracle: DuckDB computes the
    * same naive join natively. Scoped to a fifth of the corpus — the
    * rewrite carries both full arrays through the element shuffle
    * (the price of a transparent, multiplicity-preserving rewrite;
    * d02's aggregation form is the narrow-shuffle path when the
    * OUTPUT can be pair counts), so the demo stays result-size-bound,
    * not payload-bound (measured by the overlap probe, now in git
    * history). */
  def q54OverlapJoinAuto(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"),
        graft.functions.TextOps.shingles(col("text"), 3).as("sh"))
    val a = docs.select(col("doc_id").as("a_id"), col("sh").as("a_sh"))
    val b = docs.select(col("doc_id").as("b_id"), col("sh").as("b_sh"))
    a.join(b,
        size(array_intersect(col("a_sh"), col("b_sh"))) >= 5 &&
          col("a_id") < col("b_id"))
      .select("a_id", "b_id")
      .orderBy("a_id", "b_id")
  }

  val q54Sql: String =
    """WITH tok AS (
      |  SELECT doc_id, list_distinct(list_transform(range(1, len(w)-1),
      |           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
      |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
      |        FROM documents WHERE doc_id % 5 = 0))
      |SELECT a.doc_id AS a_id, b.doc_id AS b_id
      |FROM tok a JOIN tok b
      |  ON len(list_intersect(a.sh, b.sh)) >= 5 AND a.doc_id < b.doc_id
      |ORDER BY a_id, b_id""".stripMargin

  // --------------------------------------------------------------- Q55
  /** q55: equi-DEPTH histogram — price deciles per return flag
    * (q53's fixed-width cousin; together they are the two standard
    * distribution profiles). `PARTITION BY l_returnflag` has
    * cardinality 3, so a plain NTILE window would sort a third of
    * lineitem in one task; the deciles instead come from
    * [[graft.corpus.Selection.distributedNtile]] — range-partition on
    * (flag, price, tiebreak), per-slice ranks + broadcast offsets —
    * which is bit-identical to the NTILE the oracle runs but never
    * sorts more than one slice per task. */
  val q55Sql: String =
    """WITH t AS (
      |  SELECT l_returnflag, l_extendedprice,
      |    NTILE(10) OVER (PARTITION BY l_returnflag
      |      ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS decile
      |  FROM lineitem)
      |SELECT l_returnflag, CAST(decile AS BIGINT) AS decile,
      |  COUNT(*) AS n, MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi
      |FROM t GROUP BY l_returnflag, decile
      |ORDER BY l_returnflag, decile""".stripMargin

  def q55QuantileBuckets(s: SparkSession, d: String): DataFrame = {
    import graft.corpus.Selection
    val li = Tables.lineitem(s, d)
      .select("l_returnflag", "l_extendedprice", "l_orderkey", "l_linenumber")
    Selection.distributedNtile(li, 10, Seq("l_returnflag"),
        Seq(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber")),
        outCol = "decile")
      .groupBy("l_returnflag", "decile")
      .agg(count(lit(1)).as("n"),
        min("l_extendedprice").as("lo"), max("l_extendedprice").as("hi"))
      .orderBy("l_returnflag", "decile")
  }

  // --------------------------------------------------------------- Q56
  /** q56: stream-static enrichment under the STREAMING engine — the
    * event stream joins a broadcast static dimension per micro-batch
    * (no state, no watermark: the standard streaming-enrichment
    * shape), then aggregates spend per market segment. Oracle: the
    * same join+agg as one batch SQL statement. */
  def q56StreamStaticJoin(s: SparkSession, d: String): DataFrame = {
    import graft.streaming.EventsStream
    val enriched = (sess: SparkSession) => {
      val dim = broadcast(Tables.customer(sess, d)
        .select(col("c_custkey").as("user_id"), col("c_mktsegment")))
      EventsStream.readEvents(sess, d)
        .filter(col("event_type") === "purchase")
        .join(dim, Seq("user_id"))
        .select("event_id", "c_mktsegment", "value")
    }
    EventsStream.runToCompletion(s, enriched, "q56_stream_static_mem",
        outputMode = "append")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_purchases"), dsum(col("value")).as("spend"))
      .orderBy("c_mktsegment")
  }

  val q56Sql: String =
    """SELECT c_mktsegment, COUNT(*) AS n_purchases,
      |  CAST(SUM(CAST("value" AS DECIMAL(30,2))) AS DOUBLE) AS spend
      |FROM events JOIN customer ON user_id = c_custkey
      |WHERE event_type = 'purchase'
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // --------------------------------------------------------------- Q57
  /** q57: per-user session windows under the STREAMING engine — q19's
    * session_window aggregation (30-minute inactivity gap) executed
    * with merge-and-extend session state, completing the streaming-twin
    * family (q20 tumbling, q31 interval join, q37 dedup, q56 static
    * enrichment). Session-window state merges adjacent windows as late
    * rows arrive and is evicted past the watermark, so memory is
    * O(open sessions), not O(stream). Oracle: q19's gaps-and-islands
    * SQL — the batch semantics the streaming engine must reproduce. */
  def q57StreamSession(s: SparkSession, d: String): DataFrame = {
    import graft.streaming.EventsStream
    EventsStream.runToCompletion(s,
        sess => EventsStream.userSessions(EventsStream.readEvents(sess, d)),
        "q57_stream_session_mem")
      .orderBy("user_id", "session_start_us")
  }

  // --------------------------------------------------------------- Q58
  /** q58: mergeable-sketch distinct counting — the 100 TB pattern where
    * per-shard (here per-day) HyperLogLog sketches are pre-aggregated
    * ONCE and unioned at query time, so a fleet-wide distinct count
    * reads kilobytes of sketch state instead of re-scanning raw events
    * (Datasketches HLL: `hll_sketch_agg` per shard, `hll_union_agg`
    * across shards — both associative, so the same sketches also roll
    * up by week/month for free). Quantitative gate in the q17 style:
    * the merged estimate must land within 2% of the exact distinct
    * count (lgConfigK=14 ⇒ RSE ≈ 1.04/√2¹⁴ ≈ 0.8%, so 2% is a
    * 2.5σ envelope; observed error ≤0.2% at all SFs), emitted as an
    * integer bit the oracle hash-matches. The one-row exact aggregate
    * attaches via crossJoin(broadcast(...)) — a scalar join, O(1)
    * broadcast bytes (PlanAuditSpec allowlist). */
  def q58HllShardMerge(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val shards = ev
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(hll_sketch_agg(col("user_id"), 14).as("sk"))
    val unioned = shards.agg(count(lit(1)).as("n_days"),
      hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
    val exact = ev.agg(countDistinct(col("user_id")).as("exact_users"))
    unioned.crossJoin(broadcast(exact))
      .select(col("n_days"), col("exact_users"),
        (abs(col("est") - col("exact_users")) * 100 <=
          col("exact_users") * 2).cast(LongType).as("within_2pct"))
  }

  val q58Sql: String =
    """SELECT CAST(COUNT(DISTINCT date_trunc('day', ts)) AS BIGINT) AS n_days,
      |  COUNT(DISTINCT user_id) AS exact_users,
      |  CAST(1 AS BIGINT) AS within_2pct
      |FROM events""".stripMargin

  // --------------------------------------------------------------- Q59
  /** q59: heavy hitters via mergeable count-min sketches — per-day
    * shard sketches (`count_min_sketch`, ε=0.005, δ=0.001, fixed seed)
    * merged driver-side (one ~35 KB sketch per shard: MODEL-sized
    * driver state, the same posture as the k-means centroid collect),
    * then served as a broadcast dimension against the exact top-20
    * talkers. Two quantitative gates per key: `never_underestimates`
    * (a count-min structural guarantee — deterministic) and
    * `within_eps_bound` (est ≤ exact + 4εN). Spark's sketch uses
    * width = ⌈2/ε⌉ and depth = ⌈log₂(1/δ)⌉ = 10 at δ=0.001, so each
    * row's expected overestimate is ≤ N/width = εN/2; by Markov,
    * P[row err ≥ 4εN] ≤ 1/8, and the min over 10 independent rows
    * violates the 4εN slack with probability ≤ (1/8)^10 ≈ 1e-9 per
    * key (the standard ≤ εN guarantee holds at (1/2)^10 = δ). At
    * 100 TB the
    * shard sketches are pre-aggregated next to the data and only
    * sketch bytes move — the raw stream is scanned once, ever. */
  def q59CountminTopTalkers(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.util.sketch.CountMinSketch
    val eps = 0.005
    val ev = Tables.events(s, d).select(col("user_id"), col("ts"))
    val shardRows = ev
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(count_min_sketch(col("user_id"), lit(eps), lit(0.999),
        lit(42)).as("sk"))
      .collect() // one sketch per day-shard — bounded by calendar, not data
    val merged = shardRows
      .map(r => CountMinSketch.readFrom(r.getAs[Array[Byte]]("sk")))
      .reduce { (a, b) => a.mergeInPlace(b); a }
    val slack = math.ceil(4 * eps * merged.totalCount()).toLong
    val exactTop = ev.groupBy("user_id")
      .agg(count(lit(1)).as("exact_n"))
      .orderBy(col("exact_n").desc, col("user_id"))
      .limit(20)
    val keys = exactTop.select("user_id").collect().map(_.getLong(0))
    val est = s.createDataFrame(
      keys.toSeq.map(k => (k, merged.estimateCount(Long.box(k)))))
      .toDF("user_id", "est")
    exactTop.join(broadcast(est), Seq("user_id"))
      .select(col("user_id"), col("exact_n"),
        (col("est") >= col("exact_n")).cast(LongType)
          .as("never_underestimates"),
        (col("est") <= col("exact_n") + lit(slack)).cast(LongType)
          .as("within_eps_bound"))
      .orderBy(col("exact_n").desc, col("user_id"))
  }

  val q59Sql: String =
    """SELECT user_id, COUNT(*) AS exact_n,
      |  CAST(1 AS BIGINT) AS never_underestimates,
      |  CAST(1 AS BIGINT) AS within_eps_bound
      |FROM events GROUP BY user_id
      |ORDER BY exact_n DESC, user_id LIMIT 20""".stripMargin

  // --------------------------------------------------------------- Q60
  /** q60: approximate-quantile rank-error gate — `percentile_approx`
    * (Greenwald–Khanna, accuracy 1000 ⇒ rank error ≤ N/1000) checked
    * against its own guarantee WITHOUT materializing exact quantiles:
    * the returned value's rank interval [#{x<v}+1, #{x≤v}] must
    * intersect [⌈pN⌉ − N/1000, ⌈pN⌉ + N/1000]. One extra broadcast
    * join + aggregate computes the rank distributively — no sort, no
    * single-partition window — so the gate itself scales to 100 TB.
    * The oracle hash-matches group sizes and gate bits. */
  def q60ApproxQuantileGate(s: SparkSession, d: String): DataFrame = {
    val acc = 1000
    val li = Tables.lineitem(s, d).select("l_returnflag", "l_extendedprice")
    val approx = li.groupBy("l_returnflag")
      .agg(percentile_approx(col("l_extendedprice"), lit(0.5), lit(acc))
          .as("v"),
        count(lit(1)).as("n"))
    li.join(broadcast(approx), Seq("l_returnflag"))
      .groupBy("l_returnflag")
      .agg(max(col("n")).as("n"), // constant per group after the join
        sum(when(col("l_extendedprice") < col("v"), 1L).otherwise(0L))
          .as("cnt_lt"),
        sum(when(col("l_extendedprice") <= col("v"), 1L).otherwise(0L))
          .as("cnt_le"))
      .select(col("l_returnflag"), col("n"),
        (col("cnt_le") >= ceil(col("n") * 0.5) - ceil(col("n") / acc) &&
          col("cnt_lt") + 1 <= ceil(col("n") * 0.5) + ceil(col("n") / acc))
          .cast(LongType).as("within_rank_err"))
      .orderBy("l_returnflag")
  }

  val q60Sql: String =
    """SELECT l_returnflag, COUNT(*) AS n, CAST(1 AS BIGINT) AS within_rank_err
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // --------------------------------------------------------------- Q61
  /** q61: audience overlap via theta-sketch set algebra — the summary
    * op HLL cannot express: |purchasers ∩ error-reporters| and
    * |purchasers \ error-reporters| computed from per-day sketch bytes
    * (`graft.functions.ThetaSketchAgg` → shard rollup via
    * `ThetaUnionAgg` → intersection / A-not-B estimates), so at 100 TB
    * both audiences are read ONCE into day sketches and every overlap
    * question afterwards touches kilobytes. Gate: both estimates within
    * 2% (+2 absolute) of the exact counts — integer-tight at fixture
    * SFs because below 2^lgK distinct the sketch is in exact mode
    * (ThetaSketch Scaladoc). One-row exact aggregates attach via
    * crossJoin(broadcast(...)) — scalar joins, O(1) bytes. */
  def q61ThetaAudienceOverlap(s: SparkSession, d: String): DataFrame = {
    import graft.functions.ThetaFunctions._
    val ev = Tables.events(s, d)
    def users(t: String) =
      ev.filter(col("event_type") === t).select("user_id")
    def sketchOf(t: String) = // per-day shards, then the rollup union
      ev.filter(col("event_type") === t)
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .agg(thetaSketch(col("user_id")).as("sk"))
        .agg(thetaUnion(col("sk")).as("sk"))
    val a = sketchOf("purchase").select(col("sk").as("sk_a"))
    val b = sketchOf("error").select(col("sk").as("sk_b"))
    val exactBoth = users("purchase").intersect(users("error"))
      .agg(count(lit(1)).as("exact_both"))
    val exactOnly = users("purchase").except(users("error"))
      .agg(count(lit(1)).as("exact_only_purchase"))
    def gate(est: Column, exact: Column): Column =
      (abs(est - exact) * 100 <= exact * 2 + lit(200)).cast(LongType)
    a.crossJoin(b).crossJoin(broadcast(exactBoth))
      .crossJoin(broadcast(exactOnly))
      .select(col("exact_both"), col("exact_only_purchase"),
        gate(thetaIntersectEstimate(col("sk_a"), col("sk_b")),
          col("exact_both")).as("intersect_within_2pct"),
        gate(thetaANotBEstimate(col("sk_a"), col("sk_b")),
          col("exact_only_purchase")).as("diff_within_2pct"))
  }

  val q61Sql: String =
    """WITH p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
      |     e AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'error')
      |SELECT (SELECT COUNT(*) FROM p JOIN e USING (user_id)) AS exact_both,
      |  (SELECT COUNT(*) FROM p ANTI JOIN e USING (user_id)) AS exact_only_purchase,
      |  CAST(1 AS BIGINT) AS intersect_within_2pct,
      |  CAST(1 AS BIGINT) AS diff_within_2pct""".stripMargin

  // --------------------------------------------------------------- Q62
  /** q62: mergeable quantiles via KLL sketches — what q60's
    * `percentile_approx` cannot do: per-(returnflag, ship-month) shard
    * sketches built ONCE (`graft.functions.KllSketchAgg`, k=200 ⇒
    * ~1.65% rank error), merged per flag at query time
    * (`KllMergeAgg`), median read from the merged bytes. At 100 TB
    * the month shards are pre-aggregated next to the data and every
    * later quantile question merges kilobytes instead of re-scanning.
    * Gate (q60's distributed rank check, widened): KLL compaction is
    * randomized, so the test is the published PROBABILISTIC bound with
    * 3× slack — the median's observed rank within ±5% of 0.5 — never
    * an exact value. */
  def q62KllQuantileMerge(s: SparkSession, d: String): DataFrame = {
    import graft.functions.KllFunctions._
    val li = Tables.lineitem(s, d)
      .select("l_returnflag", "l_shipdate", "l_extendedprice")
    val merged = li
      .groupBy(col("l_returnflag"),
        date_trunc("month", col("l_shipdate")).as("m"))
      .agg(kllSketch(col("l_extendedprice")).as("sk"))
      .groupBy("l_returnflag")
      .agg(kllMerge(col("sk")).as("sk"))
      .select(col("l_returnflag"), kllQuantile(col("sk"), lit(0.5)).as("v"))
    li.join(broadcast(merged), Seq("l_returnflag"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(when(col("l_extendedprice") < col("v"), 1L).otherwise(0L))
          .as("cnt_lt"),
        sum(when(col("l_extendedprice") <= col("v"), 1L).otherwise(0L))
          .as("cnt_le"))
      // a duplicated median value occupies the rank INTERVAL
      // [cnt_lt, cnt_le]; the guarantee is that this interval comes
      // within ±εN of 0.5N (q60's construction, 3× slack)
      .select(col("l_returnflag"), col("n"),
        (col("cnt_le") >= col("n") * 0.5 - (col("n") * 0.05 + lit(1)) &&
          col("cnt_lt") <= col("n") * 0.5 + (col("n") * 0.05 + lit(1)))
          .cast(LongType).as("within_rank_err"))
      .orderBy("l_returnflag")
  }

  val q62Sql: String = q60Sql

  // --------------------------------------------------------------- Q63
  /** q63: the sketch table maintained by the STREAMING engine — the
    * "sketches pre-aggregated next to the data" posture under
    * continuous arrival: the event stream feeds a per-day theta-sketch
    * aggregation (the custom [[graft.functions.ThetaSketchAgg]]
    * serializing its Union buffer through the state store between
    * micro-batches), and the finished per-day sketches are then
    * estimated and checked against the exact batch distinct counts —
    * integer-tight in exact mode, so `matches_exact` is a REAL
    * equality, not an envelope. At scale this is the streaming job
    * that keeps q58/q61's shard sketches current as events land. */
  def q63StreamSketch(s: SparkSession, d: String): DataFrame = {
    import graft.streaming.EventsStream
    import graft.functions.ThetaFunctions._
    val agged = (sess: SparkSession) =>
      EventsStream.readEvents(sess, d)
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .agg(thetaSketch(col("user_id")).as("sk"))
    val streamed = EventsStream.runToCompletion(s, agged,
        "q63_stream_sketch_mem")
      .select(unix_micros(col("day").cast(TimestampType)).as("day_us"),
        thetaEstimate(col("sk")).as("est"))
    val exact = Tables.events(s, d)
      .groupBy(unix_micros(date_trunc("day", col("ts"))
        .cast(TimestampType)).as("day_us"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
    streamed.join(exact, Seq("day_us")) // ~one row per day, both sides
      .select(col("day_us"), col("exact_users"),
        (col("est") === col("exact_users")).cast(LongType)
          .as("matches_exact"))
      .orderBy("day_us")
  }

  val q63Sql: String =
    """SELECT CAST(epoch_us(date_trunc('day', ts)) AS BIGINT) AS day_us,
      |  COUNT(DISTINCT user_id) AS exact_users,
      |  CAST(1 AS BIGINT) AS matches_exact
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- Q64
  /** q64: heavy hitters, fully distributed — q59's question answered
    * without the driver ever touching a sketch: per-day frequent-items
    * shards ([[graft.functions.FreqSketchAgg]], Misra–Gries) roll up
    * through a MERGE AGGREGATE ([[graft.functions.FreqMergeAgg]]), so
    * the combine runs shuffle-side like any partial aggregation, and
    * the one merged sketch broadcasts onto the exact top-20 as a
    * scalar join. Gates: `bounds_contain_exact` is the family's
    * DETERMINISTIC guarantee (lb ≤ true ≤ ub always, at any scale);
    * `estimate_exact` additionally holds here because the fixture's
    * user cardinality sits below the map capacity (maxMapSize 8192 —
    * no purge ever fires, maxError 0, every count exact); past
    * saturation it degrades and the containment gate is the operative
    * one. */
  def q64FreqTopTalkers(s: SparkSession, d: String): DataFrame = {
    import graft.functions.FreqFunctions._
    val m = 8192
    val ev = Tables.events(s, d).select(col("user_id"), col("ts"))
    val merged = ev
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(freqSketch(col("user_id"), m).as("sk"))
      .agg(freqMerge(col("sk"), m).as("sk"))
    val exactTop = ev.groupBy("user_id")
      .agg(count(lit(1)).as("exact_n"))
      .orderBy(col("exact_n").desc, col("user_id"))
      .limit(20)
    exactTop.crossJoin(broadcast(merged))
      .select(col("user_id"), col("exact_n"),
        (freqLowerBound(col("sk"), col("user_id")) <= col("exact_n") &&
          col("exact_n") <= freqUpperBound(col("sk"), col("user_id")))
          .cast(LongType).as("bounds_contain_exact"),
        (freqEstimate(col("sk"), col("user_id")) === col("exact_n") &&
          freqMaxError(col("sk")) === 0).cast(LongType).as("estimate_exact"))
      .orderBy(col("exact_n").desc, col("user_id"))
  }

  val q64Sql: String =
    """SELECT user_id, COUNT(*) AS exact_n,
      |  CAST(1 AS BIGINT) AS bounds_contain_exact,
      |  CAST(1 AS BIGINT) AS estimate_exact
      |FROM events GROUP BY user_id
      |ORDER BY exact_n DESC, user_id LIMIT 20""".stripMargin

  /** name -> (impl, optional oracle) */
  val entries: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    ("q01_filter_project", q01FilterProject _, Some(q01Sql)),
    ("q02_hash_agg", q02HashAgg _, Some(q02Sql)),
    ("q03_join_agg", q03JoinAgg _, Some(q03Sql)),
    ("q04_broadcast_join", q04BroadcastJoin _, Some(q04Sql)),
    ("q05_semi_join", q05SemiJoin _, Some(q05Sql)),
    ("q06_anti_join", q06AntiJoin _, Some(q06Sql)),
    ("q07_outer_join", q07OuterJoin _, Some(q07Sql)),
    ("q08_window_topk", q08WindowTopk _, Some(q08Sql)),
    ("q09_rollup", q09Rollup _, Some(q09Sql)),
    ("q10_distinct", q10Distinct _, Some(q10Sql)),
    ("q11_topk_sort", q11TopkSort _, Some(q11Sql)),
    ("q12_set_ops", q12SetOps _, Some(q12Sql)),
    ("q13_scalar_battery", q13ScalarBattery _, Some(q13Sql)),
    ("q14_json", q14Json _, Some(q14Sql)),
    ("q15_event_window", q15EventWindow _, Some(q15Sql)),
    ("q16_array_ops", q16ArrayOps _, Some(q16Sql)),
    ("q17_approx_distinct", q17ApproxDistinct _, Some(q17Sql)),
    ("q18_sessionization", q18Sessionization _, Some(q18Sql)),
    ("q19_session_window", q19SessionWindow _, Some(q19Sql)),
    ("q20_stream_tumbling", q20StreamTumbling _, Some(q15Sql)),
    ("q21_cube", q21Cube _, Some(q21Sql)),
    ("q22_cross_join", q22CrossJoin _, Some(q22Sql)),
    ("q23_pivot", q23Pivot _, Some(q23Sql)),
    ("q24_percentile", q24Percentile _, Some(q24Sql)),
    ("q25_string_battery", q25StringBattery _, Some(q25Sql)),
    ("q26_window_analytics", q26WindowAnalytics _, Some(q26Sql)),
    ("q27_asof_join", q27AsofJoin _, Some(q27Sql)),
    ("q28_subqueries", q28Subqueries _, Some(q28Sql)),
    ("q29_generators", q29Generators _, Some(q29Sql)),
    ("q30_interval_join", q30IntervalJoin _, Some(q30Sql)),
    ("q31_stream_interval_join", q31StreamIntervalJoin _, Some(q31Sql)),
    ("q32_range_join_auto", q32RangeJoinAuto _, Some(q31Sql)),
    ("q33_range_frame", q33RangeFrame _, Some(q33Sql)),
    ("q34_rank_battery", q34RankBattery _, Some(q34Sql)),
    ("q35_in_exists", q35InExists _, Some(q35Sql)),
    ("q36_datetime_battery", q36DatetimeBattery _, Some(q36Sql)),
    ("q37_stream_dedup", q37StreamDedup _, Some(q37Sql)),
    ("q38_fuzzy_join_auto", q38FuzzyJoinAuto _, Some(q38Sql)),
    ("q39_set_ops_all", q39SetOpsAll _, Some(q39Sql)),
    ("q40_grouping_sets", q40GroupingSets _, Some(q40Sql)),
    ("q41_hof_battery", q41HofBattery _, Some(q41Sql)),
    ("q42_gap_fill", q42GapFill _, Some(q42Sql)),
    ("q43_unpivot", q43Unpivot _, Some(q43Sql)),
    ("q44_recursive_cte", q44RecursiveCte _, Some(q44Sql)),
    ("q45_lateral", q45Lateral _, Some(q45Sql)),
    ("q46_null_safe_join", q46NullSafeJoin _, Some(q46Sql)),
    ("q47_top_revenue", q47TopRevenue _, Some(q47Sql)),
    ("q48_large_orders", q48LargeOrders _, Some(q48Sql)),
    ("q49_waiting_supplier", q49WaitingSupplier _, Some(q49Sql)),
    ("q50_lost_customers", q50LostCustomers _, Some(q50Sql)),
    ("q51_map_battery", q51MapBattery _, Some(q51Sql)),
    ("q52_stats_battery", q52StatsBattery _, Some(q52Sql)),
    ("q53_histogram", q53Histogram _, Some(q53Sql)),
    ("q54_overlap_join_auto", q54OverlapJoinAuto _, Some(q54Sql)),
    ("q55_quantile_buckets", q55QuantileBuckets _, Some(q55Sql)),
    ("q56_stream_static_join", q56StreamStaticJoin _, Some(q56Sql)),
    ("q57_stream_session", q57StreamSession _, Some(q19Sql)),
    ("q58_hll_shard_merge", q58HllShardMerge _, Some(q58Sql)),
    ("q59_countmin_topk", q59CountminTopTalkers _, Some(q59Sql)),
    ("q60_quantile_gate", q60ApproxQuantileGate _, Some(q60Sql)),
    ("q61_theta_overlap", q61ThetaAudienceOverlap _, Some(q61Sql)),
    ("q62_kll_quantile_merge", q62KllQuantileMerge _, Some(q62Sql)),
    ("q63_stream_sketch", q63StreamSketch _, Some(q63Sql)),
    ("q64_freq_topk", q64FreqTopTalkers _, Some(q64Sql)),
  )
}
