package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{ColumnPlugins, Text, Vectors}
import graft.operators._

/** Table lifecycle: upsert/CDC/SCD2, layout, staging, events, seeded ops. */
private[queries] trait QueriesLifecycle { this: Queries.type =>

  // ---------------------------------------------------------------- q07
  // K2: keyed MERGE upsert (replace-row semantics), checksum output
  private[queries] def q07(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val orders = t(s, dir, "orders")
    // floor(x·100+0.5)/100 instead of round(x, 2): both engines evaluate
    // it on the same IEEE double, so half-way ties break identically
    // (round() ties differ: Spark BigDecimal HALF_UP vs DuckDB scaled
    // double) — same trick as q18's quality rounding.
    val updates = orders.filter($"o_orderkey" % 7 === 0)
      .select($"o_orderkey", $"o_custkey", lit("U").as("o_orderstatus"),
        (floor($"o_totalprice" * 1.1 * 100.0 + 0.5) / 100.0).as("o_totalprice"),
        $"o_orderdate", $"o_orderpriority")
    val inserts = orders.filter($"o_orderkey" % 1000 === 0)
      .select(($"o_orderkey" + 10000000L).as("o_orderkey"), $"o_custkey",
        lit("N").as("o_orderstatus"), lit(1.0).as("o_totalprice"),
        $"o_orderdate", $"o_orderpriority")
    val merged = Upsert.merge(orders, updates.unionByName(inserts),
      Seq("o_orderkey"))
    merged.groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("cnt"),
        (floor(sum($"o_totalprice") * 100.0 + 0.5) / 100.0).as("total"))
      .orderBy($"o_orderstatus")
  }
  private[queries] lazy val q07Sql =
    """WITH delta AS (
      | SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
      |  floor(o_totalprice * 1.1 * 100.0 + 0.5) / 100.0 AS o_totalprice,
      |  o_orderdate, o_orderpriority
      | FROM orders WHERE o_orderkey % 7 = 0
      | UNION ALL
      | SELECT o_orderkey + 10000000, o_custkey, 'N', 1.0, o_orderdate, o_orderpriority
      | FROM orders WHERE o_orderkey % 1000 = 0
      |), merged AS (
      | SELECT * FROM delta
      | UNION ALL
      | SELECT * FROM orders o
      | WHERE NOT EXISTS (SELECT 1 FROM delta d WHERE d.o_orderkey = o.o_orderkey)
      |)
      |SELECT o_orderstatus, count(*) AS cnt,
      | floor(sum(o_totalprice) * 100.0 + 0.5) / 100.0 AS total
      |FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  // ---------------------------------------------------------------- q08
  // K4: partial column-patch upsert ($set semantics, coalesce per column)
  private[queries] def q08(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val customer = t(s, dir, "customer")
    val patch = customer.filter($"c_custkey" % 10 === 0)
      .select($"c_custkey", ($"c_acctbal" + 100.0).as("c_acctbal"),
        lit(null).cast("string").as("c_mktsegment"))
    val merged = Upsert.merge(customer, patch, Seq("c_custkey"), patch = true)
    merged.groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("cnt"), round(sum($"c_acctbal"), 2).as("total_bal"))
      .orderBy($"c_mktsegment")
  }
  private[queries] lazy val q08Sql =
    """WITH patch AS (
      | SELECT c_custkey, c_acctbal + 100.0 AS c_acctbal,
      |  CAST(NULL AS VARCHAR) AS c_mktsegment
      | FROM customer WHERE c_custkey % 10 = 0)
      |SELECT c_mktsegment, count(*) AS cnt, round(sum(c_acctbal), 2) AS total_bal
      |FROM (
      | SELECT coalesce(p.c_mktsegment, c.c_mktsegment) AS c_mktsegment,
      |        coalesce(p.c_acctbal, c.c_acctbal) AS c_acctbal
      | FROM customer c LEFT JOIN patch p USING (c_custkey))
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // ---------------------------------------------------------------- q10
  // ST4/ST5: staleness refresh predicate (deterministic cursor)
  private[queries] def q10(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Events.staleRows(t(s, dir, "events"), "ts", 7)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("stale_cnt"))
      .orderBy($"user_id")
  }
  private[queries] lazy val q10Sql =
    """SELECT user_id, count(*) AS stale_cnt FROM events
      |WHERE ts < (SELECT max(ts) - INTERVAL 7 DAY FROM events)
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q13
  // Event-time tumbling window aggregate
  private[queries] def q13(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Events.tumbling(t(s, dir, "events"), "ts", "event_type", "value")
      .select($"window_start", $"event_type", $"cnt",
        round($"sum_value", 2).as("sum_value"))
      .orderBy($"window_start", $"event_type")
  }
  private[queries] lazy val q13Sql =
    """SELECT date_trunc('hour', ts)::TIMESTAMP AS window_start, event_type,
      | count(*) AS cnt, round(sum(value), 2) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin

  // ---------------------------------------------------------------- q14
  // Event-time sliding window aggregate (1h width, 30m slide)
  private[queries] def q14(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Events.sliding(t(s, dir, "events"), "ts", "event_type", "value")
      .select($"window_start", $"event_type", $"cnt",
        round($"sum_value", 2).as("sum_value"))
      .orderBy($"window_start", $"event_type")
  }
  private[queries] lazy val q14Sql =
    """WITH e AS (
      | SELECT event_type, value,
      |  (date_trunc('hour', ts) + CASE WHEN minute(ts) >= 30
      |    THEN INTERVAL 30 MINUTE ELSE INTERVAL 0 MINUTE END)::TIMESTAMP AS slot
      | FROM events)
      |SELECT window_start, event_type, count(*) AS cnt,
      | round(sum(value), 2) AS sum_value
      |FROM (SELECT unnest([slot, slot - INTERVAL 30 MINUTE]) AS window_start,
      |       event_type, value FROM e)
      |GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin

  // ---------------------------------------------------------------- q15
  // Session windows (30-min gap) per user — gaps-and-islands
  private[queries] def q15(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Events.sessionStats(t(s, dir, "events"), "ts", "user_id", "event_id", 30)
      .orderBy($"user_id")
  }
  private[queries] lazy val q15Sql =
    """WITH o AS (
      | SELECT user_id, ts::TIMESTAMP AS ts, event_id,
      |  CASE WHEN lag(ts::TIMESTAMP) OVER w IS NULL
      |        OR ts::TIMESTAMP - lag(ts::TIMESTAMP) OVER w > INTERVAL 30 MINUTE
      |       THEN 1 ELSE 0 END AS ns
      | FROM events
      | WINDOW w AS (PARTITION BY user_id ORDER BY ts::TIMESTAMP, event_id)
      |), se AS (
      | SELECT user_id,
      |  sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                ROWS UNBOUNDED PRECEDING) AS sess_id
      | FROM o
      |), g AS (
      | SELECT user_id, sess_id, count(*) AS n FROM se GROUP BY 1, 2)
      |SELECT user_id, count(*) AS session_cnt, max(n) AS max_session_events,
      | CAST(sum(n) AS BIGINT) AS total_events
      |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q41
  // K6: physical layout — each key clustered into exactly one partition
  // (the oracle asserts the n_parts=1 invariant relationally)
  private[queries] def q41(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Layout.byKey(t(s, dir, "documents"), "lang", 8, "doc_id")
      .withColumn("pid", spark_partition_id())
      .groupBy($"lang")
      .agg(countDistinct($"pid").as("n_parts"), count(lit(1)).as("cnt"))
      .orderBy($"lang")
  }
  private[queries] lazy val q41Sql =
    """SELECT lang, CAST(1 AS BIGINT) AS n_parts, count(*) AS cnt
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- q44
  // ST2/P7/K4: the lifecycle minimum slice — stage filter selects
  // unsummarized rows, a batch subset is patched via column-patch
  // upsert, and the re-filter shrinks to exactly the unpatched subset
  private[queries] def q44(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val articles = t(s, dir, "documents")
      .select($"doc_id", $"text", lit(null).cast("string").as("summary"))
    val todo = articles.filter($"summary".isNull)
      .filter($"doc_id" % 3 =!= 0)
    val patch = todo.select($"doc_id",
      array_join(Text.summaryBullets(Text.cleanSummary(
        ColumnPlugins("summarize")($"text"))), " | ").as("summary"))
    val after = Upsert.merge(articles, patch, Seq("doc_id"), patch = true)
    after.agg(
      count(lit(1)).as("total"),
      sum(when($"summary".isNotNull, 1).otherwise(0)).cast("long")
        .as("summarized"),
      sum(when($"summary".isNull, 1).otherwise(0)).cast("long")
        .as("remaining"))
  }
  private[queries] lazy val q44Sql =
    """SELECT count(*) AS total,
      | CAST(sum(CASE WHEN doc_id % 3 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS summarized,
      | CAST(sum(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS remaining
      |FROM documents""".stripMargin

  // ---------------------------------------------------------------- q69
  // T5 seeded shuffle: rank each source's docs in md5(seed:key) order —
  // the reference's random.shuffle with process randomness replaced by
  // a seed, so the "random" order is engine- and run-reproducible
  private[queries] def q69(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Seeded.shuffle(t(s, dir, "documents"), "source", "doc_id", "s42")
      .filter($"rank" <= 5)
      .select($"source", $"rank", $"doc_id")
      .orderBy($"source", $"rank")
  }
  private[queries] lazy val q69Sql =
    """WITH r AS (SELECT source, doc_id,
      | row_number() OVER (PARTITION BY source
      |   ORDER BY md5('s42:' || doc_id), doc_id) AS rank
      | FROM documents)
      |SELECT source, CAST(rank AS BIGINT) AS rank, doc_id
      |FROM r WHERE rank <= 5 ORDER BY source, rank""".stripMargin

  // ---------------------------------------------------------------- q70
  // F14 seeded normal vector: Irwin-Hall draws from md5-derived 16-bit
  // uniforms — dyadic-rational arithmetic end to end, so values are
  // bit-identical cross-engine with NO rounding guard (the oracle
  // hash-compares raw doubles)
  private[queries] def q70(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents").filter($"doc_id" < 20)
      .select($"doc_id",
        posexplode(Seeded.normalVec($"doc_id", 8, "s42")).as(Seq("i", "z")))
      .select($"doc_id", $"i".cast("long").as("i"), $"z")
      .orderBy($"doc_id", $"i")
  }
  private[queries] def q70Sql: String = {
    val parts = (0 until 8).map(k =>
      s"('0x' || substr(h, ${1 + 4 * k}, 4))::BIGINT / 65536.0")
      .mkString("(", " + ", ")")
    s"""WITH e AS (
       | SELECT doc_id, unnest(range(0, 8)) AS i FROM documents
       | WHERE doc_id < 20),
       |hs AS (SELECT doc_id, i,
       | md5('s42:' || doc_id || ':' || i) AS h FROM e)
       |SELECT doc_id, CAST(i AS BIGINT) AS i,
       | ($parts - 4.0) / ${Seeded.IrwinHallNorm} AS z
       |FROM hs ORDER BY doc_id, i""".stripMargin
  }

  // ---------------------------------------------------------------- q75
  // SCD2 history build from the event change log: versioned rows with
  // [valid_from, valid_to) ranges and a current flag — the
  // point-in-time view the reference's overwrite-in-place upserts
  // cannot answer
  private[queries] def q75(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Upsert.scd2(
        t(s, dir, "events").filter($"user_id" < 5)
          .select($"user_id", $"event_id", $"event_type".as("state"), $"ts"),
        "user_id", "ts", $"event_id")
      .select($"user_id", $"event_id", $"state",
        $"valid_from", $"valid_to", $"is_current")
      .orderBy($"user_id", $"valid_from", $"event_id")
  }
  private[queries] lazy val q75Sql =
    """SELECT user_id, event_id, event_type AS state,
      | ts::TIMESTAMP AS valid_from,
      | lead(ts::TIMESTAMP, 1) OVER w AS valid_to,
      | (lead(ts::TIMESTAMP, 1) OVER w IS NULL) AS is_current
      |FROM events WHERE user_id < 5
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts::TIMESTAMP, event_id)
      |ORDER BY user_id, valid_from, event_id""".stripMargin

  // ---------------------------------------------------------------- q78
  // F15 deterministic voice pick: md5-keyed choice from the per-gender
  // voice pool (reference: random.choice per call — seeded here so the
  // oracle can mirror the draw exactly)
  private[queries] def q78(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents").filter($"doc_id" < 200)
      .select($"doc_id",
        when(pmod($"doc_id", lit(2)) === 0, "male").otherwise("female")
          .as("gender"))
      .withColumn("voice", Seeded.voicePick($"gender", $"doc_id"))
      .orderBy($"doc_id")
  }
  private[queries] lazy val q78Sql =
    """WITH d AS (SELECT doc_id,
      |  CASE WHEN doc_id % 2 = 0 THEN 'male' ELSE 'female' END AS gender
      | FROM documents WHERE doc_id < 200),
      |v AS (SELECT doc_id, gender,
      |  ('0x' || substr(md5('s42:' || doc_id), 1, 4))::BIGINT % 4 AS idx
      | FROM d)
      |SELECT doc_id, gender,
      | CASE WHEN gender = 'male'
      |   THEN list_extract(['alloy','echo','fable','onyx'],
      |     CAST(idx + 1 AS INT))
      |   ELSE list_extract(['shimmer','coral','nova','sage'],
      |     CAST(idx + 1 AS INT))
      | END AS voice
      |FROM v ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q86
  // Snapshot diff / CDC extraction: two deterministic versions of the
  // documents table → one row per insert/delete/update
  private[queries] def q86(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents").select($"doc_id", $"lang", $"n_chars")
    val old = docs.filter($"doc_id" < 300)
    val nw = docs.filter($"doc_id" < 320 && pmod($"doc_id", lit(7)) =!= 0)
      .withColumn("n_chars",
        when(pmod($"doc_id", lit(5)) === 0, $"n_chars" + 10)
          .otherwise($"n_chars"))
    Upsert.snapshotDiff(old, nw, Seq("doc_id")).orderBy($"doc_id")
  }
  private[queries] lazy val q86Sql =
    """WITH o AS (
      | SELECT doc_id, lang, n_chars FROM documents WHERE doc_id < 300),
      |n AS (
      | SELECT doc_id, lang,
      |  CASE WHEN doc_id % 5 = 0 THEN n_chars + 10 ELSE n_chars END
      |    AS n_chars
      | FROM documents WHERE doc_id < 320 AND doc_id % 7 <> 0),
      |j AS (
      | SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
      |  CASE WHEN o.doc_id IS NULL THEN 'insert'
      |       WHEN n.doc_id IS NULL THEN 'delete'
      |       WHEN o.lang IS DISTINCT FROM n.lang
      |         OR o.n_chars IS DISTINCT FROM n.n_chars THEN 'update'
      |  END AS op,
      |  n.lang AS lang, n.n_chars AS n_chars
      | FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
      |SELECT doc_id, op, lang, n_chars FROM j
      |WHERE op IS NOT NULL ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q89
  // ST7 rate limiting as a batch admission schedule: min 1s between
  // requests per user — admit_i = max(ts_i, admit_{i-1} + 1s), as a
  // running max over ts − i·gap (exact long micros end to end)
  private[queries] def q89(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Events.rateLimit(
        t(s, dir, "events").filter($"user_id" < 10)
          .select($"user_id", $"event_id", $"ts"),
        "user_id", "ts", gapMicros = 1000000L, $"event_id")
      .select($"user_id", $"event_id", $"admit_ts", $"wait_us")
      .orderBy($"user_id", $"admit_ts", $"event_id")
  }
  private[queries] lazy val q89Sql =
    """WITH o AS (
      | SELECT user_id, event_id, ts::TIMESTAMP AS ts,
      |  epoch_us(ts::TIMESTAMP) AS us,
      |  row_number() OVER (PARTITION BY user_id
      |    ORDER BY ts::TIMESTAMP, event_id) AS rn
      | FROM events WHERE user_id < 10),
      |a AS (
      | SELECT user_id, event_id, us,
      |  max(us - rn * 1000000) OVER (PARTITION BY user_id
      |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
      |    + rn * 1000000 AS admit_us
      | FROM o)
      |SELECT user_id, event_id, make_timestamp(admit_us) AS admit_ts,
      | CAST(admit_us - us AS BIGINT) AS wait_us
      |FROM a ORDER BY user_id, admit_ts, event_id""".stripMargin

  // ---------------------------------------------------------------- q103
  // Incremental materialized-aggregate maintenance (IncrementalAgg):
  // a per-language rollup built from three append deltas — with batch
  // "b1" deliberately REPLAYED between b1 and b2 — must equal the
  // one-shot group-by over the union of the deltas. Each refresh
  // aggregates only its delta and re-aggregates against the
  // key-cardinality rollup (the corpus is never rescanned); the
  // replay is a no-op because the applied-batch list commits
  // atomically WITH the data in the same rename swap. Exactly-once
  // additive IVM, under the cross-engine hash compare.
  private[queries] def q103(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tmp = graft.TempDirs.create("graft-q103")
    val path = s"$tmp/rollup"
    val docs = t(s, dir, "documents")
    def slice(a: Long, b: Long) =
      docs.filter($"doc_id" >= a && $"doc_id" < b)
        .select($"lang", $"n_chars")
    def refresh(d: DataFrame, id: String) =
      IncrementalAgg.refreshAdditive(s, path, d, Seq("lang"),
        Seq("n_chars"), id)
    refresh(slice(0, 300), "b0")
    refresh(slice(300, 400), "b1")
    refresh(slice(300, 400), "b1")   // at-least-once replay: must no-op
    refresh(slice(400, 500), "b2")
    s.read.parquet(path)
      .select($"lang", $"n_rows", $"sum_n_chars")
      .orderBy($"lang")
  }
  private[queries] lazy val q103Sql =
    """SELECT lang, count(*) AS n_rows,
      | CAST(sum(n_chars) AS BIGINT) AS sum_n_chars
      |FROM documents WHERE doc_id < 500
      |GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- q104
  // CDC apply (Upsert.applyDiff) — q86's inverse, end to end: the
  // change feed q86 extracts (insert/update/delete ops) is applied
  // back onto the old snapshot with one delete-anti-join + one MERGE,
  // and must reproduce the new snapshot value-for-value — the oracle
  // IS the new snapshot. At scale this replays a CDC feed touching
  // only changed keys, never rescanning unchanged rows' content.
  private[queries] def q104(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents").select($"doc_id", $"lang", $"n_chars")
    val old = docs.filter($"doc_id" < 300)
    val nw = docs.filter($"doc_id" < 320 && pmod($"doc_id", lit(7)) =!= 0)
      .withColumn("n_chars",
        when(pmod($"doc_id", lit(5)) === 0, $"n_chars" + 10)
          .otherwise($"n_chars"))
    Upsert.applyDiff(old,
        Upsert.snapshotDiff(old, nw, Seq("doc_id")), Seq("doc_id"))
      .orderBy($"doc_id")
  }
  private[queries] lazy val q104Sql =
    """SELECT doc_id, lang,
      | CASE WHEN doc_id % 5 = 0 THEN n_chars + 10 ELSE n_chars END
      |   AS n_chars
      |FROM documents WHERE doc_id < 320 AND doc_id % 7 <> 0
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q174
  // ORC warehouse sink + pruned re-read — K7's partitioned-parquet
  // contract on Spark's OTHER native columnar format (warehouses are
  // frequently ORC-side; a "complete" engine serves both). Writes a
  // lineitem projection partitioned by return flag, reads it back
  // with a partition-pruning flag filter AND a pushed quantity
  // predicate, and aggregates — SinkSpec pins the ORC scan shows
  // PushedFilters + a PartitionFilters prune, same as the parquet
  // twin. The oracle replays the aggregation from the parquet source
  // (same rows by definition — a round-trip fidelity check).
  private[queries] def q174(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tmp = graft.TempDirs.create("graft-q174")
    t(s, dir, "lineitem")
      .select($"l_orderkey", $"l_partkey", $"l_quantity",
        $"l_extendedprice", $"l_returnflag")
      .write.mode("overwrite").format("orc")
      .partitionBy("l_returnflag").save(s"$tmp/wh")
    s.read.format("orc").load(s"$tmp/wh")
      .filter($"l_returnflag" === "R" && $"l_quantity" >= 30.0)
      .groupBy($"l_partkey")
      .agg(count(lit(1)).as("n"),
        sum($"l_quantity").cast("double").as("qty"))
      .filter($"n" >= 2)
      .orderBy($"l_partkey")
  }
  private[queries] lazy val q174Sql =
    """SELECT l_partkey, COUNT(*) AS n,
      | CAST(SUM(l_quantity) AS DOUBLE) AS qty
      |FROM lineitem
      |WHERE l_returnflag = 'R' AND l_quantity >= 30
      |GROUP BY l_partkey HAVING COUNT(*) >= 2
      |ORDER BY l_partkey""".stripMargin

  // ---------------------------------------------------------------- q182
  // Declarative data-quality expectations (Expectations.check) — the
  // report a corpus refresh publishes next to its data: every row
  // predicate runs in ONE scan-side aggregate (violations counted,
  // never a job failure), key-uniqueness checks pay their explicit
  // aggregation shuffle. The battery mixes passing gates
  // (doc_id unique/non-null, n_chars ≡ length(text)) with genuinely
  // failing ones (zh rows break lang_known; (lang, source) is far
  // from unique) so both verdict paths carry real counts; NOT-TRUE
  // semantics (false OR null violates) replayed in the oracle.
  private[queries] def q182(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Expectations.check(t(s, dir, "documents"),
      Seq(
        "doc_id_nonnull" -> $"doc_id".isNotNull,
        "lang_known" -> $"lang".isin("en", "de", "fr", "es"),
        "n_chars_consistent" -> ($"n_chars" === length($"text")),
        "text_min_50" -> (length($"text") >= 50)),
      uniqueKeys = Seq(
        "doc_id_unique" -> Seq("doc_id"),
        "lang_source_unique" -> Seq("lang", "source")))
  }
  private[queries] lazy val q182Sql =
    """WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n_rows
      |  FROM documents),
      |r AS (
      | SELECT 'doc_id_nonnull' AS expectation, n.n_rows,
      |  (SELECT CAST(count(*) AS BIGINT) FROM documents
      |   WHERE doc_id IS NULL) AS n_violations FROM n
      | UNION ALL
      | SELECT 'doc_id_unique', n.n_rows,
      |  (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) FROM (
      |    SELECT count(*) AS c FROM documents GROUP BY doc_id
      |    HAVING count(*) > 1)) FROM n
      | UNION ALL
      | SELECT 'lang_known', n.n_rows,
      |  (SELECT CAST(count(*) AS BIGINT) FROM documents
      |   WHERE lang IS NULL OR lang NOT IN ('en','de','fr','es'))
      |  FROM n
      | UNION ALL
      | SELECT 'lang_source_unique', n.n_rows,
      |  (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) FROM (
      |    SELECT count(*) AS c FROM documents GROUP BY lang, source
      |    HAVING count(*) > 1)) FROM n
      | UNION ALL
      | SELECT 'n_chars_consistent', n.n_rows,
      |  (SELECT CAST(count(*) AS BIGINT) FROM documents
      |   WHERE n_chars IS NULL OR text IS NULL
      |    OR n_chars <> length(text)) FROM n
      | UNION ALL
      | SELECT 'text_min_50', n.n_rows,
      |  (SELECT CAST(count(*) AS BIGINT) FROM documents
      |   WHERE text IS NULL OR length(text) < 50) FROM n)
      |SELECT expectation, n_rows, n_violations,
      | n_violations = 0 AS pass
      |FROM r ORDER BY expectation""".stripMargin
}
