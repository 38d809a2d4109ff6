package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{ColumnPlugins, Text, Vectors}
import graft.operators._

/** Core relational queries: aggregations, joins, windows, set ops, analytics.
  */
private[queries] trait QueriesRelational { this: Queries.type =>

  // ---------------------------------------------------------------- q01
  // A-family: grouped aggregation (pricing summary; SURVEY §2.5)
  private[queries] def q01(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "lineitem")
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        sum($"l_quantity").as("sum_qty"),
        round(sum($"l_extendedprice"), 2).as("sum_base_price"),
        round(sum($"l_extendedprice" * (lit(1) - $"l_discount")), 2)
          .as("sum_disc_price"),
        round(avg($"l_quantity"), 4).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }
  private[queries] lazy val q01Sql =
    """SELECT l_returnflag, l_linestatus,
      | sum(l_quantity) AS sum_qty,
      | round(sum(l_extendedprice), 2) AS sum_base_price,
      | round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
      | round(avg(l_quantity), 4) AS avg_qty,
      | count(*) AS count_order
      |FROM lineitem GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------- q02
  // J1: multi-way dim enrichment, dims broadcast (SURVEY §2.4)
  private[queries] def q02(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "orders")
      .join(t(s, dir, "customer"), $"o_custkey" === $"c_custkey")
      .join(broadcast(t(s, dir, "nation")), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(t(s, dir, "region")), $"n_regionkey" === $"r_regionkey")
      .groupBy($"r_name", $"n_name")
      .agg(count(lit(1)).as("order_cnt"),
        round(sum($"o_totalprice"), 2).as("total_price"),
        round(avg($"c_acctbal"), 4).as("avg_bal"))
      .orderBy($"r_name", $"n_name")
  }
  private[queries] lazy val q02Sql =
    """SELECT r_name, n_name, count(*) AS order_cnt,
      | round(sum(o_totalprice), 2) AS total_price,
      | round(avg(c_acctbal), 4) AS avg_bal
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin

  // ---------------------------------------------------------------- q03
  // P2/J2: anti-join dedup (parts never ordered)
  private[queries] def q03(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "part")
      .join(t(s, dir, "lineitem"), $"p_partkey" === $"l_partkey", "left_anti")
      .groupBy($"p_brand")
      .agg(count(lit(1)).as("never_ordered"))
      .orderBy($"p_brand")
  }
  private[queries] lazy val q03Sql =
    """SELECT p_brand, count(*) AS never_ordered
      |FROM part p
      |WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey)
      |GROUP BY p_brand ORDER BY p_brand""".stripMargin

  // ---------------------------------------------------------------- q04
  // J3: semi-join validation (customers having orders)
  private[queries] def q04(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "customer")
      .join(t(s, dir, "orders"), $"c_custkey" === $"o_custkey", "left_semi")
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("cust_cnt"))
      .orderBy($"c_mktsegment")
  }
  private[queries] lazy val q04Sql =
    """SELECT c_mktsegment, count(*) AS cust_cnt
      |FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // ---------------------------------------------------------------- q05
  // T1/P13: ranked top-k per group — bounded top-k Aggregator
  // (Skew.topKAgg): c_mktsegment has 5 values, so a plain window
  // would sort each segment on one task; the Aggregator ships ≤ k
  // rows per group per map task and sorts nothing globally.
  // Exact — oracle unchanged.
  private[queries] def q05(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val joined = t(s, dir, "orders")
      .join(t(s, dir, "customer"), $"o_custkey" === $"c_custkey")
      .select($"c_mktsegment", $"o_orderkey", $"o_totalprice")
    Skew.topKAgg(joined, "c_mktsegment", "o_orderkey", "o_totalprice",
        k = 3)
      .select($"c_mktsegment", $"rn", $"o_orderkey", $"o_totalprice")
      .orderBy($"c_mktsegment", $"rn")
  }
  private[queries] lazy val q05Sql =
    """SELECT c_mktsegment, rn, o_orderkey, o_totalprice FROM (
      | SELECT c_mktsegment, o_orderkey, o_totalprice,
      |  row_number() OVER (PARTITION BY c_mktsegment
      |    ORDER BY o_totalprice DESC, o_orderkey) AS rn
      | FROM orders JOIN customer ON o_custkey = c_custkey)
      |WHERE rn <= 3 ORDER BY c_mktsegment, rn""".stripMargin

  // ---------------------------------------------------------------- q06
  // T2: weighted-score top-k per group (0.7/0.3 formula). Routed
  // through Skew.topKAgg (round 21): n_name has 25 values, so the
  // previous row_number window sent every nation's orders to ONE
  // task — the exact low-cardinality-group skew q05 was rewritten
  // for in round 5 (at 100 TB: 25 tasks each sorting 1/25 of the
  // joined fact table). The bounded (score desc, id asc) aggregator
  // ships ≤ k rows per group per map task and sorts nothing
  // globally; ordering and tie-break are identical to the window
  // (TopKAgg.better IS (combined desc, o_orderkey asc)), so ranks
  // and values are unchanged and the oracle SQL stays the window
  // formulation.
  private[queries] def q06(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val combined = $"o_totalprice" / 1000.0 * 0.7 + $"c_acctbal" * 0.3
    val joined = t(s, dir, "orders")
      .join(t(s, dir, "customer"), $"o_custkey" === $"c_custkey")
      .join(broadcast(t(s, dir, "nation")), $"c_nationkey" === $"n_nationkey")
      .select($"n_name", $"o_orderkey", combined.as("__c"))
    Skew.topKAgg(joined, "n_name", "o_orderkey", "__c", k = 5)
      .select($"n_name", $"rn", $"o_orderkey",
        round($"__c", 4).as("combined"))
      .orderBy($"n_name", $"rn")
  }
  private[queries] lazy val q06Sql =
    """SELECT n_name, rn, o_orderkey, round(combined, 4) AS combined FROM (
      | SELECT n_name, o_orderkey,
      |  o_totalprice / 1000.0 * 0.7 + c_acctbal * 0.3 AS combined,
      |  row_number() OVER (PARTITION BY n_name
      |    ORDER BY o_totalprice / 1000.0 * 0.7 + c_acctbal * 0.3 DESC,
      |             o_orderkey) AS rn
      | FROM orders JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey)
      |WHERE rn <= 5 ORDER BY n_name, rn""".stripMargin

  // ---------------------------------------------------------------- q09
  // P4-P6: validation constraints with routed rejects
  private[queries] def q09(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val okLangs = Seq("en", "de", "fr")
    t(s, dir, "documents")
      .withColumn("status",
        when($"text".isNull || length($"text") < 200, lit("reject_short"))
          .when(!$"lang".isin(okLangs.map(lit): _*), lit("reject_fk"))
          .otherwise(lit("ok")))
      .groupBy($"lang", $"status")
      .agg(count(lit(1)).as("cnt"))
      .orderBy($"lang", $"status")
  }
  private[queries] lazy val q09Sql =
    """SELECT lang,
      | CASE WHEN text IS NULL OR length(text) < 200 THEN 'reject_short'
      |      WHEN lang NOT IN ('en','de','fr') THEN 'reject_fk'
      |      ELSE 'ok' END AS status,
      | count(*) AS cnt
      |FROM documents GROUP BY 1, 2 ORDER BY lang, status""".stripMargin

  // ---------------------------------------------------------------- q11
  // A5: fact-check scorecard (conditional counts + tiered clamp)
  private[queries] def q11(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val agg = t(s, dir, "events").groupBy($"user_id").agg(
      sum(when($"event_type" === "purchase", 1).otherwise(0)).as("confirmed"),
      sum(when($"event_type" === "error", 1).otherwise(0)).as("refuted"),
      count(lit(1)).as("total"))
    agg.select($"user_id",
      when($"total" === 0, 0.0)
        .when($"total" < 5, 1.0)
        .when($"total" < 8, 2.0)
        .when($"total" < 10, 3.0)
        .otherwise(round(
          greatest(lit(3.0), least(lit(10.0),
            ($"confirmed".cast("double") / $"total" -
              $"refuted".cast("double") * 0.5 / $"total") * 10.0)), 4))
        .as("score"))
      .orderBy($"user_id")
  }
  private[queries] lazy val q11Sql =
    """SELECT user_id,
      | CASE WHEN total = 0 THEN 0.0
      |      WHEN total < 5 THEN 1.0
      |      WHEN total < 8 THEN 2.0
      |      WHEN total < 10 THEN 3.0
      |      ELSE round(greatest(3.0, least(10.0,
      |        (CAST(confirmed AS DOUBLE) / total
      |         - CAST(refuted AS DOUBLE) * 0.5 / total) * 10.0)), 4)
      | END AS score
      |FROM (
      | SELECT user_id,
      |  sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS confirmed,
      |  sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS refuted,
      |  count(*) AS total
      | FROM events GROUP BY user_id)
      |ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q12
  // U2: priority-then-refresh union of ranked batches
  private[queries] def q12(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val events = t(s, dir, "events")
    val priority = events.filter($"event_type" === "error")
      .orderBy($"ts".desc, $"event_id".asc).limit(10)
    val refresh = events.filter($"event_type" === "view")
      .orderBy($"ts".asc, $"event_id".asc).limit(10)
    priority.unionByName(refresh)
      .select($"event_id", $"event_type", $"ts")
      .orderBy($"event_id")
  }
  private[queries] lazy val q12Sql =
    """SELECT event_id, event_type, ts FROM (
      | SELECT * FROM (SELECT event_id, event_type, ts FROM events
      |  WHERE event_type = 'error' ORDER BY ts DESC, event_id LIMIT 10)
      | UNION ALL
      | SELECT * FROM (SELECT event_id, event_type, ts FROM events
      |  WHERE event_type = 'view' ORDER BY ts ASC, event_id LIMIT 10))
      |ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------- q30
  // As-of join: latest click at-or-before each purchase, per user
  private[queries] def q30(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val events = t(s, dir, "events")
    val purchases = events.filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts")
    val clicks = events.filter($"event_type" === "click")
      .select($"event_id", $"user_id", $"ts")
    Events.asofJoin(purchases, clicks, "user_id", "ts", "event_id")
      .select($"event_id", $"user_id", $"asof_ts", $"asof_id")
      .orderBy($"event_id")
  }
  private[queries] lazy val q30Sql =
    """SELECT p.event_id, p.user_id, c.ts AS asof_ts, c.event_id AS asof_id
      |FROM (SELECT event_id, user_id, ts::TIMESTAMP AS ts FROM events
      |      WHERE event_type = 'purchase') p
      |ASOF LEFT JOIN (SELECT event_id, user_id, ts::TIMESTAMP AS ts FROM events
      |      WHERE event_type = 'click') c
      | ON p.user_id = c.user_id AND c.ts <= p.ts
      |ORDER BY p.event_id""".stripMargin

  // ---------------------------------------------------------------- q39
  // P11: NaN vs NULL tri-state handling (text_to_speech.py:40-43 — the
  // pandas-NaN-leaks-into-Mongo distinction, made explicit)
  private[queries] def q39(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = t(s, dir, "events").select($"event_id", $"user_id",
      when($"event_id" % 13 === 0, lit(Double.NaN))
        .when($"event_id" % 13 === 1, lit(null).cast("double"))
        .otherwise($"value").as("v"))
    e.groupBy($"user_id").agg(
        sum(when($"v".isNotNull && isnan($"v"), 1).otherwise(0))
          .cast("long").as("nan_cnt"),
        sum(when($"v".isNull, 1).otherwise(0)).cast("long").as("null_cnt"),
        sum(when($"v".isNotNull && !isnan($"v"), 1).otherwise(0))
          .cast("long").as("ok_cnt"),
        round(sum(when($"v".isNotNull && !isnan($"v"), $"v").otherwise(0.0)), 2)
          .as("ok_sum"))
      .orderBy($"user_id")
  }
  private[queries] lazy val q39Sql =
    """WITH e AS (SELECT event_id, user_id,
      | CASE WHEN event_id % 13 = 0 THEN 'NaN'::DOUBLE
      |      WHEN event_id % 13 = 1 THEN NULL
      |      ELSE value END AS v FROM events)
      |SELECT user_id,
      | CAST(sum(CASE WHEN v IS NOT NULL AND isnan(v) THEN 1 ELSE 0 END) AS BIGINT) AS nan_cnt,
      | CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_cnt,
      | CAST(sum(CASE WHEN v IS NOT NULL AND NOT isnan(v) THEN 1 ELSE 0 END) AS BIGINT) AS ok_cnt,
      | round(sum(CASE WHEN v IS NOT NULL AND NOT isnan(v) THEN v ELSE 0.0 END), 2) AS ok_sum
      |FROM e GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q43
  // A1+U1: union of work lists, dedup'd and sorted
  private[queries] def q43(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = t(s, dir, "events")
    e.filter($"event_type" === "error").select($"user_id")
      .union(e.filter($"event_type" === "purchase").select($"user_id"))
      .distinct()
      .orderBy($"user_id")
  }
  private[queries] lazy val q43Sql =
    """SELECT DISTINCT user_id FROM events
      |WHERE event_type IN ('error', 'purchase')
      |ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q51
  // Distinct-count + exact percentiles per group (the analytics ops a
  // 100 TB engine user reaches for daily; floor-rounding guards the
  // interpolation ulps between engines)
  private[queries] def q51(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "events").groupBy($"event_type").agg(
        countDistinct($"user_id").as("users"),
        (floor(median($"value") * 10000.0 + 0.5) / 10000.0).as("med_value"),
        (floor(percentile($"value", lit(0.9)) * 10000.0 + 0.5) / 10000.0)
          .as("p90_value"))
      .orderBy($"event_type")
  }
  private[queries] lazy val q51Sql =
    """SELECT event_type,
      | count(DISTINCT user_id) AS users,
      | floor(median(value) * 10000.0 + 0.5) / 10000.0 AS med_value,
      | floor(quantile_cont(value, 0.9) * 10000.0 + 0.5) / 10000.0 AS p90_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q52
  // Rollup with grouping id — hierarchical subtotals in one pass
  private[queries] def q52(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "customer")
      .join(broadcast(t(s, dir, "nation")), $"c_nationkey" === $"n_nationkey")
      .rollup($"n_name", $"c_mktsegment")
      .agg(count(lit(1)).as("cnt"),
        (floor(sum($"c_acctbal") * 100.0 + 0.5) / 100.0).as("bal"),
        grouping_id().cast("long").as("gid"))
      .orderBy($"gid", $"n_name", $"c_mktsegment")
  }
  private[queries] lazy val q52Sql =
    """SELECT n_name, c_mktsegment, count(*) AS cnt,
      | floor(sum(c_acctbal) * 100.0 + 0.5) / 100.0 AS bal,
      | CAST(GROUPING(n_name, c_mktsegment) AS BIGINT) AS gid
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY ROLLUP(n_name, c_mktsegment)
      |ORDER BY gid, n_name, c_mktsegment""".stripMargin

  // ---------------------------------------------------------------- q53
  // Timezone conversion (SURVEY §7.4: UTC storage, Asia/Ho_Chi_Minh at
  // the edge) — local-hour histogram; the oracle nests timezone()
  // twice so it never depends on the session timezone
  private[queries] def q53(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "events")
      .select(hour(from_utc_timestamp($"ts", "Asia/Ho_Chi_Minh"))
        .cast("long").as("local_hour"))
      .groupBy($"local_hour")
      .agg(count(lit(1)).as("cnt"))
      .orderBy($"local_hour")
  }
  private[queries] lazy val q53Sql =
    """SELECT CAST(hour(timezone('Asia/Ho_Chi_Minh',
      |   timezone('UTC', ts::TIMESTAMP))) AS BIGINT) AS local_hour,
      | count(*) AS cnt
      |FROM events GROUP BY 1 ORDER BY local_hour""".stripMargin

  // ---------------------------------------------------------------- q54
  // Running (cumulative) sum window frame per key — same insertion
  // order both engines, so the float sequence is identical
  private[queries] def q54(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, 0)
    t(s, dir, "events").filter($"user_id" < 20)
      .select($"user_id", $"event_id",
        (floor(sum($"value").over(w) * 100.0 + 0.5) / 100.0).as("run_sum"))
      .orderBy($"user_id", $"event_id")
  }
  private[queries] lazy val q54Sql =
    """SELECT user_id, event_id,
      | floor(sum(value) OVER (PARTITION BY user_id
      |   ORDER BY ts::TIMESTAMP, event_id
      |   ROWS UNBOUNDED PRECEDING) * 100.0 + 0.5) / 100.0 AS run_sum
      |FROM events WHERE user_id < 20
      |ORDER BY user_id, event_id""".stripMargin

  // ---------------------------------------------------------------- q56
  // Pivot: event counts per user cohort, one column per event type
  // (explicit value list keeps the schema deterministic for the oracle)
  private[queries] lazy val eventTypes = Seq("click", "error", "purchase", "signup", "view")
  private[queries] def q56(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "events")
      .groupBy(($"user_id" % 10).as("cohort"))
      .pivot("event_type", eventTypes)
      .agg(count(lit(1)))
      .orderBy($"cohort")
  }
  private[queries] def q56Sql: String = {
    val cols = eventTypes.map(t =>
      s"CAST(sum(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) AS BIGINT) AS \"$t\"")
      .mkString(",\n ")
    s"""SELECT user_id % 10 AS cohort,
       | $cols
       |FROM events GROUP BY 1 ORDER BY cohort""".stripMargin
  }

  // ---------------------------------------------------------------- q58
  // Set operations: intersect (clicked AND purchased) and except
  // (clicked but NEVER purchased) user sets
  private[queries] def q58(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = t(s, dir, "events")
    val clickers = e.filter($"event_type" === "click").select($"user_id")
    val buyers = e.filter($"event_type" === "purchase").select($"user_id")
    val both = clickers.intersect(buyers)
      .withColumn("relation", lit("click_and_purchase"))
    val onlyClick = clickers.except(buyers)
      .withColumn("relation", lit("click_no_purchase"))
    both.unionByName(onlyClick).orderBy($"relation", $"user_id")
  }
  private[queries] lazy val q58Sql =
    """WITH c AS (SELECT user_id FROM events WHERE event_type = 'click'),
      |p AS (SELECT user_id FROM events WHERE event_type = 'purchase')
      |SELECT user_id, 'click_and_purchase' AS relation
      |FROM (SELECT user_id FROM c INTERSECT SELECT user_id FROM p)
      |UNION ALL
      |SELECT user_id, 'click_no_purchase' AS relation
      |FROM (SELECT user_id FROM c EXCEPT SELECT user_id FROM p)
      |ORDER BY relation, user_id""".stripMargin

  // ---------------------------------------------------------------- q59
  // Ranking-window variants: quartile buckets (ntile) and percent_rank
  // per event type, tie-broken by event_id for determinism
  private[queries] def q59(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"event_type")
      .orderBy($"value".asc, $"event_id".asc)
    t(s, dir, "events").filter($"user_id" < 10)
      .select($"event_type", $"event_id",
        ntile(4).over(w).cast("long").as("quartile"),
        (floor(percent_rank().over(w) * 10000.0 + 0.5) / 10000.0)
          .as("pct_rank"))
      .orderBy($"event_type", $"event_id")
  }
  private[queries] lazy val q59Sql =
    """SELECT event_type, event_id,
      | CAST(ntile(4) OVER w AS BIGINT) AS quartile,
      | floor(percent_rank() OVER w * 10000.0 + 0.5) / 10000.0 AS pct_rank
      |FROM events WHERE user_id < 10
      |WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
      |ORDER BY event_type, event_id""".stripMargin

  // ---------------------------------------------------------------- q60
  // Unpivot (melt): wide per-type stats back to (metric, value) rows —
  // the reshape inverse of q56's pivot
  private[queries] def q60(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val wide = t(s, dir, "events").groupBy($"event_type").agg(
      count(lit(1)).cast("double").as("cnt"),
      (floor(sum($"value") * 100.0 + 0.5) / 100.0).as("sum_value"),
      (floor(avg($"value") * 10000.0 + 0.5) / 10000.0).as("avg_value"))
    wide.unpivot(Array($"event_type"),
        Array($"cnt", $"sum_value", $"avg_value"), "metric", "value")
      .orderBy($"event_type", $"metric")
  }
  private[queries] lazy val q60Sql =
    """WITH wide AS (
      | SELECT event_type, CAST(count(*) AS DOUBLE) AS cnt,
      |  floor(sum(value) * 100.0 + 0.5) / 100.0 AS sum_value,
      |  floor(avg(value) * 10000.0 + 0.5) / 10000.0 AS avg_value
      | FROM events GROUP BY event_type)
      |SELECT event_type, metric, value FROM (
      | SELECT event_type, 'cnt' AS metric, cnt AS value FROM wide
      | UNION ALL
      | SELECT event_type, 'sum_value', sum_value FROM wide
      | UNION ALL
      | SELECT event_type, 'avg_value', avg_value FROM wide)
      |ORDER BY event_type, metric""".stripMargin

  // ---------------------------------------------------------------- q63
  // Cube: both grouping-set variants now covered (q52 = rollup). Same
  // broadcast-dim join, count + floored sum, grouping_id for the
  // oracle's GROUPING() parity.
  private[queries] def q63(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "customer")
      .join(broadcast(t(s, dir, "nation")), $"c_nationkey" === $"n_nationkey")
      .cube($"n_name", $"c_mktsegment")
      .agg(count(lit(1)).as("cnt"),
        (floor(sum($"c_acctbal") * 100.0 + 0.5) / 100.0).as("bal"),
        grouping_id().cast("long").as("gid"))
      .orderBy($"gid", $"n_name", $"c_mktsegment")
  }
  private[queries] lazy val q63Sql =
    """SELECT n_name, c_mktsegment, count(*) AS cnt,
      | floor(sum(c_acctbal) * 100.0 + 0.5) / 100.0 AS bal,
      | CAST(GROUPING(n_name, c_mktsegment) AS BIGINT) AS gid
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY CUBE(n_name, c_mktsegment)
      |ORDER BY gid, n_name, c_mktsegment""".stripMargin

  // ---------------------------------------------------------------- q71
  // lag/lead deltas: order-value change vs previous/next order per
  // customer — the offset-window surface next to q54's running frames.
  // Same-operand subtraction is deterministic; rounding only guards
  // the window-less engines' ulps on the shared operands
  private[queries] def q71(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_orderdate", $"o_orderkey")
    t(s, dir, "orders").filter($"o_custkey" < 50)
      .select($"o_custkey", $"o_orderkey",
        (floor(($"o_totalprice" - lag($"o_totalprice", 1).over(w))
          * 100.0 + 0.5) / 100.0).as("delta_prev"),
        (floor((lead($"o_totalprice", 1).over(w) - $"o_totalprice")
          * 100.0 + 0.5) / 100.0).as("delta_next"))
      .orderBy($"o_custkey", $"o_orderkey")
  }
  private[queries] lazy val q71Sql =
    """SELECT o_custkey, o_orderkey,
      | floor((o_totalprice - lag(o_totalprice, 1) OVER w) * 100.0 + 0.5)
      |   / 100.0 AS delta_prev,
      | floor((lead(o_totalprice, 1) OVER w - o_totalprice) * 100.0 + 0.5)
      |   / 100.0 AS delta_next
      |FROM orders WHERE o_custkey < 50
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q72
  // Ordered string aggregation: per (nation, segment) roster —
  // array_sort before join makes the concatenation order-independent
  // of shuffle arrival, which is also what makes it oracle-able
  private[queries] def q72(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "customer").filter($"c_nationkey" < 5)
      .groupBy($"c_nationkey".cast("long").as("c_nationkey"),
        $"c_mktsegment")
      .agg(count(lit(1)).as("n"),
        concat_ws(",", array_sort(collect_list($"c_name"))).as("roster"))
      .orderBy($"c_nationkey", $"c_mktsegment")
  }
  private[queries] lazy val q72Sql =
    """SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey, c_mktsegment,
      | count(*) AS n,
      | string_agg(c_name, ',' ORDER BY c_name) AS roster
      |FROM customer WHERE c_nationkey < 5
      |GROUP BY 1, 2 ORDER BY c_nationkey, c_mktsegment""".stripMargin

  // ---------------------------------------------------------------- q73
  // Second-moment statistics: stddev / covariance / correlation per
  // group. Engines accumulate moments in different merge orders, so
  // results differ below ~1e-10 relative — rounding granularity is
  // chosen orders of magnitude above that
  private[queries] def q73(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "lineitem").groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        (floor(stddev_samp($"l_extendedprice") * 100.0 + 0.5) / 100.0)
          .as("sd_price"),
        (floor(covar_pop($"l_quantity", $"l_extendedprice") * 100.0 + 0.5)
          / 100.0).as("cov_qty_price"),
        (floor(corr($"l_quantity", $"l_extendedprice") * 10000.0 + 0.5)
          / 10000.0).as("corr_qty_price"))
      .orderBy($"l_returnflag")
  }
  private[queries] lazy val q73Sql =
    """SELECT l_returnflag, count(*) AS n,
      | floor(stddev_samp(l_extendedprice) * 100.0 + 0.5) / 100.0
      |   AS sd_price,
      | floor(covar_pop(l_quantity, l_extendedprice) * 100.0 + 0.5) / 100.0
      |   AS cov_qty_price,
      | floor(corr(l_quantity, l_extendedprice) * 10000.0 + 0.5) / 10000.0
      |   AS corr_qty_price
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q84
  // Banded inequality join via bucketing: |price_a − price_b| ≤ 0.15
  // across two brands — the equi-join + neighbor-replication shape
  // that replaces the BNLJ a naive inequality join plans as. The
  // oracle runs the plain inequality join (exact on this bounded
  // corpus); the Spark side must produce the identical pair set.
  private[queries] def q84(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val part = t(s, dir, "part")
      .select($"p_partkey", $"p_brand", $"p_retailprice")
    val a = part.filter($"p_brand" === "Brand#11")
      .select($"p_partkey", $"p_retailprice")
    val b = part.filter($"p_brand" === "Brand#12")
      .select($"p_partkey", $"p_retailprice")
    Events.bandJoin(a, b, "p_retailprice", "p_retailprice", eps = 0.15)
      .select($"l_p_partkey".as("a_key"), $"r_p_partkey".as("b_key"),
        $"l_p_retailprice".as("a_price"), $"r_p_retailprice".as("b_price"))
      .orderBy($"a_key", $"b_key")
  }
  private[queries] lazy val q84Sql =
    """SELECT a.p_partkey AS a_key, b.p_partkey AS b_key,
      | a.p_retailprice AS a_price, b.p_retailprice AS b_price
      |FROM part a JOIN part b
      | ON abs(a.p_retailprice - b.p_retailprice) <= 0.15
      |WHERE a.p_brand = 'Brand#11' AND b.p_brand = 'Brand#12'
      |ORDER BY a_key, b_key""".stripMargin

  // ---------------------------------------------------------------- q85
  // Native session_window grouping — the built-in operator twin of
  // q15's manual islands formulation. Spark's session is half-open
  // [start, last + gap): an event at EXACTLY gap after its predecessor
  // starts a new session, so the oracle's island break uses >=, where
  // q15's manual variant uses > (both semantics are valid; each oracle
  // mirrors its engine's definition exactly).
  private[queries] def q85(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "events")
      .groupBy($"user_id", session_window($"ts", "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select($"user_id", $"sw.start".as("session_start"), $"n_events")
      .orderBy($"user_id", $"session_start")
  }
  private[queries] lazy val q85Sql =
    """WITH o AS (
      | SELECT user_id, ts::TIMESTAMP AS ts, event_id,
      |  CASE WHEN lag(ts::TIMESTAMP) OVER w IS NULL
      |        OR ts::TIMESTAMP - lag(ts::TIMESTAMP) OVER w
      |             >= INTERVAL 30 MINUTE
      |       THEN 1 ELSE 0 END AS ns
      | FROM events
      | WINDOW w AS (PARTITION BY user_id ORDER BY ts::TIMESTAMP, event_id)
      |), se AS (
      | SELECT user_id, ts,
      |  sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                ROWS UNBOUNDED PRECEDING) AS sess_id
      | FROM o)
      |SELECT user_id, min(ts) AS session_start, count(*) AS n_events
      |FROM se GROUP BY user_id, sess_id
      |ORDER BY user_id, session_start""".stripMargin

  // ---------------------------------------------------------------- q88
  // Per-group exact median + deterministic mode: median rounded above
  // interpolation ulps; mode formulated manually (count + rank, ties
  // on the value) because the engines' built-in mode tie-breaks differ
  private[queries] def q88(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = t(s, dir, "events")
      .select($"event_type", $"value", pmod($"user_id", lit(10)).as("ub"))
    val med = ev.groupBy($"event_type")
      .agg((floor(median($"value") * 1000000.0 + 0.5) / 1000000.0)
        .as("med_value"))
    val counts = ev.groupBy($"event_type", $"ub")
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy($"event_type")
      .orderBy($"c".desc, $"ub".asc)
    val mode = counts.withColumn("rk", row_number().over(w))
      .filter($"rk" === 1)
      .select($"event_type", $"ub".as("modal_bucket"))
    med.join(mode, "event_type").orderBy($"event_type")
  }
  private[queries] lazy val q88Sql =
    """WITH ev AS (
      | SELECT event_type, value, user_id % 10 AS ub FROM events),
      |med AS (
      | SELECT event_type,
      |  floor(median(value) * 1000000.0 + 0.5) / 1000000.0 AS med_value
      | FROM ev GROUP BY event_type),
      |c AS (SELECT event_type, ub, count(*) AS c FROM ev GROUP BY 1, 2),
      |m AS (
      | SELECT event_type, ub AS modal_bucket,
      |  row_number() OVER (PARTITION BY event_type ORDER BY c DESC, ub)
      |    AS rk
      | FROM c)
      |SELECT med.event_type AS event_type, med_value, modal_bucket
      |FROM med JOIN m ON med.event_type = m.event_type AND rk = 1
      |ORDER BY med.event_type""".stripMargin

  // ---------------------------------------------------------------- q91
  // Salted skew join end-to-end: result must equal the plain join —
  // the oracle runs the unsalted SQL, so any salting artifact
  // (dropped/duplicated rows) breaks the hash match
  private[queries] def q91(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val orders = t(s, dir, "orders")
      .select($"o_custkey".as("custkey"), $"o_totalprice")
    val cust = t(s, dir, "customer")
      .select($"c_custkey".as("custkey"), $"c_mktsegment")
    Skew.saltedJoin(orders, cust, "custkey", salt = 8)
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_orders"),
        floor(sum($"o_totalprice") + 0.5).cast("long")
          .as("sum_price"))
      .orderBy($"c_mktsegment")
  }
  private[queries] lazy val q91Sql =
    """SELECT c_mktsegment, count(*) AS n_orders,
      | CAST(floor(sum(o_totalprice) + 0.5) AS BIGINT) AS sum_price
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // ---------------------------------------------------------------- q92
  // Explicit GROUPING SETS (the third of the rollup/cube family,
  // q52/q63): per-type, per-day and grand-total aggregates in one
  // pass; null ordering pinned NULLS LAST on both engines
  private[queries] def q92(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = t(s, dir, "events")
      .select($"event_type", to_date($"ts").as("day"), $"value")
    ev.groupingSets(
        Seq(Seq($"event_type"), Seq($"day"), Seq.empty[Column]),
        $"event_type", $"day")
      .agg(count(lit(1)).as("n"),
        floor(sum($"value") + 0.5).cast("long").as("sum_value"))
      .orderBy($"event_type".asc_nulls_last, $"day".asc_nulls_last)
  }
  private[queries] lazy val q92Sql =
    """SELECT event_type, ts::DATE AS day, count(*) AS n,
      | CAST(floor(sum(value) + 0.5) AS BIGINT) AS sum_value
      |FROM events
      |GROUP BY GROUPING SETS ((event_type), (ts::DATE), ())
      |ORDER BY event_type NULLS LAST, day NULLS LAST""".stripMargin

  // ---------------------------------------------------------------- q99
  // Bloom-pruned semi join (BloomJoin.bloomSemiJoin): customers with a
  // high-value order, pruned at the customer SCAN by a bloom over the
  // filtered orders' keys before the exact semi join removes false
  // positives — the manual runtime-filter shape. The oracle IS the
  // plain semi join: the bloom stage must be semantically invisible.
  private[queries] def q99(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val big = t(s, dir, "orders").filter($"o_totalprice" > 450000.0)
    BloomJoin.bloomSemiJoin(t(s, dir, "customer"), "c_custkey",
        big, "o_custkey")
      .select($"c_custkey", $"c_name", $"c_nationkey".cast("long")
        .as("c_nationkey"), $"c_acctbal")
      .orderBy($"c_custkey")
  }
  private[queries] lazy val q99Sql =
    """SELECT c_custkey, c_name, CAST(c_nationkey AS BIGINT) AS c_nationkey,
      | c_acctbal
      |FROM customer
      |WHERE c_custkey IN
      | (SELECT o_custkey FROM orders WHERE o_totalprice > 450000.0)
      |ORDER BY c_custkey""".stripMargin

  /** Deterministic event-time-ordered micro-batch drive, shared by
    * every streaming oracle query (q100/q107/q108/q111/q132/q133):
    * parquet slice files with PINNED ascending mtimes —
    * FileStreamSource replays oldest-mtime-first, so slice order IS
    * event-time order regardless of wall clock. One implementation so
    * the ordering/pinning logic can never drift between queries.
    */
  private[queries] final class SliceDrive(inDir: String) {
    private val mtimeBase = 60L * 60 * 1000 * 24 * 365 // order is all that matters
    private val pinned = scala.collection.mutable.Set[String]()
    def writeSlice(df: DataFrame, seq: Int): Unit = {
      df.coalesce(1).write.mode("append").parquet(inDir)
      new java.io.File(inDir).listFiles()
        .filter(f => f.getName.startsWith("part-") &&
          !pinned.contains(f.getName))
        .foreach { f =>
          f.setLastModified(mtimeBase + 60000L * seq); pinned += f.getName }
    }
  }

  /** Pin spark.sql.shuffle.partitions around a tiny-state streaming
    * run (the first run's checkpoint freezes state partitioning; 32
    * state-store commits per micro-batch would be the cost of
    * forgetting) and restore it after.
    */
  private[queries] def withShufflePartitions[T](s: SparkSession, n: Int)
      (body: => T): T = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  // ---------------------------------------------------------------- q101
  // Semi-structured ingestion on Spark 4's native VARIANT type — the
  // §1.3 "declared core + dynamic accretion" story without a fixed
  // schema: nested JSON (built deterministically from row data; every
  // 7th event DROPS its "m" object, simulating producer schema drift)
  // is parsed ONCE into variant's binary form, then typed paths are
  // extracted with variant_get / try_variant_get — drifted rows
  // surface as NULLs, not failures, and aggregate correctly. Variant
  // beats per-path get_json_object at scale: one parse per row
  // instead of one re-parse per extracted path (q49 is the
  // string-JSON twin). The oracle replays the same JSON construction
  // + extraction relationally in DuckDB.
  private[queries] def q101(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = t(s, dir, "events")
    val k = get_json_object($"props", "$.k").cast("long")
    val j = concat(lit("{\"id\":"), $"event_id",
      when(pmod($"event_id", lit(7)) =!= 0,
        concat(lit(",\"m\":{\"k\":"), k,
          lit(",\"type\":\""), $"event_type", lit("\"}")))
        .otherwise(lit("")),
      lit(",\"tags\":[\"t"), pmod($"user_id", lit(3)), lit("\",\"x\"]}"))
    val v = parse_json(j)
    ev.select($"event_type",
        try_variant_get(v, "$.m.k", "long").as("mk"),
        variant_get(v, "$.tags[0]", "string").as("tag0"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("cnt"), sum($"mk").as("sum_k"),
        count(when($"tag0" === "t0", 1)).as("n_tag0"),
        count(when($"mk".isNull, 1)).as("n_drifted"))
      .orderBy($"event_type")
  }
  private[queries] lazy val q101Sql =
    """WITH e AS (SELECT event_type, event_id, user_id,
      |  CAST(json_extract(props, '$.k') AS BIGINT) AS k FROM events),
      |j AS (SELECT event_type,
      |  '{"id":' || event_id ||
      |  CASE WHEN event_id % 7 <> 0
      |    THEN ',"m":{"k":' || k || ',"type":"' || event_type || '"}'
      |    ELSE '' END ||
      |  ',"tags":["t' || (user_id % 3) || '","x"]}' AS js FROM e)
      |SELECT event_type, count(*) AS cnt,
      | CAST(sum(CAST(json_extract(js, '$.m.k') AS BIGINT)) AS BIGINT)
      |   AS sum_k,
      | CAST(count(CASE WHEN json_extract_string(js, '$.tags[0]') = 't0'
      |   THEN 1 END) AS BIGINT) AS n_tag0,
      | CAST(count(CASE WHEN json_extract(js, '$.m.k') IS NULL
      |   THEN 1 END) AS BIGINT) AS n_drifted
      |FROM j GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q204
  // Bucketed co-located join under the oracle — the storage-level
  // shuffle elimination a 100 TB warehouse lives on: customer and
  // orders are FIRST written as bucketed+sorted external tables
  // (CLUSTERED BY custkey INTO 8 BUCKETS — the one-time shuffle), then
  // the equi-join AND the per-customer aggregation read co-located
  // buckets with ZERO exchanges (BucketedSpec pins the plan; the
  // orderBy for output determinism is the only exchange in the query).
  // Money sums go through per-row integer cents (FLOOR(p*100+0.5)) so
  // the aggregate is order-independent and hash-exact cross-engine.
  private[queries] def q204(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cDir = graft.TempDirs.create("q204-c")
    val oDir = graft.TempDirs.create("q204-o")
    Bucketed.writeBucketed(t(s, dir, "customer"), "graft_q204_cust",
      cDir, "c_custkey", 8)
    Bucketed.writeBucketed(t(s, dir, "orders"), "graft_q204_ord",
      oDir, "o_custkey", 8)
    Bucketed.cogroupJoin(s, "graft_q204_ord", "o_custkey",
        "graft_q204_cust", "c_custkey")
      .groupBy($"c_custkey", $"c_name")
      .agg(count(lit(1)).cast("long").as("n_orders"),
        sum(floor($"o_totalprice" * 100 + 0.5).cast("long"))
          .as("sum_cents"))
      .orderBy($"c_custkey")
  }
  private[queries] lazy val q204Sql =
    """SELECT c_custkey, c_name,
      | CAST(count(*) AS BIGINT) AS n_orders,
      | CAST(sum(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
      |  AS BIGINT) AS sum_cents
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_custkey, c_name
      |ORDER BY c_custkey""".stripMargin
}
