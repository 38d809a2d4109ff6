package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{ColumnPlugins, Text, Vectors}
import graft.operators._

/** Structured Streaming queries: micro-batch lifecycle, windows, joins, dedup.
  */
private[queries] trait QueriesStreaming { this: Queries.type =>

  // ---------------------------------------------------------------- q93
  // ST1-ST3 lifecycle under the oracle contract: the documents table
  // streams through Streams.incrementalUpsert (Trigger.AvailableNow,
  // maxFilesPerTrigger=1 over a 4-file spill so the backlog REALLY
  // drains as multiple micro-batches), each batch MERGE-patching the
  // seeded state table — 'en' docs get status/summary set, others keep
  // their seed state. Final table state is batch-count-invariant
  // (doc_id keys are unique and the stage is row-local), so DuckDB
  // folds the whole lifecycle as one batch expression. Cost is the
  // sequential per-batch table merges by design (the lifecycle IS the
  // operator here); 4 batches keeps that honest without dominating
  // the bench.
  private[queries] def q93(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tmp = graft.TempDirs.create("graft-q93")
    val docs = t(s, dir, "documents").select($"doc_id", $"lang", $"text")
    val table = s"$tmp/state"
    docs.select($"doc_id", $"lang", $"text",
        lit("new").as("status"),
        lit(null).cast("string").as("summary"))
      .write.parquet(table)
    val inDir = s"$tmp/in"
    docs.repartition(4).write.parquet(inDir)
    val stream = s.readStream
      .schema(docs.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(inDir)
    val stage = (b: DataFrame) =>
      b.filter(col("lang") === "en")
        .select(col("doc_id"),
          lit("summarized").as("status"),
          concat(lit("sum:"), substring(col("text"), 1, 30)).as("summary"))
    val q = graft.streaming.Streams.incrementalUpsert(
      stream, stage, table, Seq("doc_id"), s"$tmp/cp")
    q.awaitTermination()
    s.read.parquet(table)
      .select($"doc_id", $"lang", $"status", $"summary")
      .orderBy($"doc_id")
  }
  private[queries] lazy val q93Sql =
    """SELECT doc_id, lang,
      | CASE WHEN lang = 'en' THEN 'summarized' ELSE 'new' END AS status,
      | CASE WHEN lang = 'en' THEN 'sum:' || substr(text, 1, 30) END
      |   AS summary
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q100
  // Watermarked streaming tumbling windows under the oracle — the
  // streaming twin of q13, driven end to end: events arrive as 4 real
  // micro-batches (maxFilesPerTrigger=1) through Streams.tumbling in
  // APPEND mode (a window emits only once the watermark passes its
  // end) into a parquet sink. A far-future sentinel row then arrives
  // in a checkpoint-RESUMED second run, pushing the watermark past
  // every real window so the finalization batch flushes them all,
  // exactly once. The final sink must equal the batch group-by — the
  // oracle IS q13's SQL. Restart-across-checkpoint is the ST1/ST3
  // recovery contract exercised under the hash compare.
  private[queries] def q100(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tmp = graft.TempDirs.create("graft-q100")
    // a deterministic 20% slice of the stream: the semantics under
    // test (watermark emission, append exactness, restart-recovery)
    // are volume-independent, and the q13 batch twin already covers
    // the full table — same reasoning as q93's 4-batch trim
    val ev = t(s, dir, "events").filter(pmod($"event_id", lit(5)) === 0)
      .select($"ts", $"event_type", $"value")
    val inDir = s"$tmp/in"; val outDir = s"$tmp/out"; val cp = s"$tmp/cp"
    def run(): Unit = {
      // state partitioning is fixed by the FIRST run's checkpoint; the
      // window state here is thousands of rows, so 32 state-store
      // instances × 6 runs would be pure commit overhead (measured
      // 14 s → ~5 s at sf0.1 with 4). Restored after each run so the
      // batch queries keep the session setting.
      withShufflePartitions(s, 4) {
        val stream = s.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", 1).parquet(inDir)
        val agg = graft.streaming.Streams.tumbling(stream, "ts",
          "event_type", "value")
        val q = agg.writeStream.outputMode("append")
          .format("parquet").option("path", outDir)
          .option("checkpointLocation", cp)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
    }
    // batches must advance in EVENT TIME (arrival ≈ event order, the
    // real stream shape): time slices whose file mtimes are PINNED
    // to an increasing sequence, because FileStreamSource replays
    // files oldest-mtime-first — so one run consumes them as ordered
    // micro-batches, deterministically, without relying on write
    // timing. Slices span ≫ the 2h watermark delay, so windows
    // straddling a slice boundary are still open when the next slice
    // arrives: nothing is ever late-dropped, and every window is
    // emitted exactly once.
    val drive = new SliceDrive(inDir)
    import drive.writeSlice
    val mm = ev.agg(min($"ts"), max($"ts")).head()
    val (lo, hi) = (mm.getTimestamp(0).getTime, mm.getTimestamp(1).getTime)
    val mid = lo + (hi - lo) / 2
    writeSlice(ev.filter(unix_millis($"ts") < mid), 0)
    writeSlice(ev.filter(unix_millis($"ts") >= mid), 1)
    run()
    // sentinel, in a checkpoint-RESUMED second run: far past every
    // real timestamp — advances the watermark over every real window
    // so the finalization batch flushes them; its own (never-closed)
    // window cannot emit, and is filtered regardless
    writeSlice(s.range(1).select(
        lit(java.sql.Timestamp.valueOf("2031-01-01 00:00:00")).as("ts"),
        lit("__sentinel").as("event_type"), lit(0.0).as("value")), 2)
    run()
    s.read.parquet(outDir)
      .filter($"event_type" =!= "__sentinel")
      .select($"window_start", $"event_type", $"cnt",
        round($"sum_value", 2).as("sum_value"))
      .orderBy($"window_start", $"event_type")
  }
  // streaming final state ≡ batch windows over the same 20% slice
  private[queries] lazy val q100Sql =
    """SELECT date_trunc('hour', ts)::TIMESTAMP AS window_start, event_type,
      | count(*) AS cnt, round(sum(value), 2) AS sum_value
      |FROM events WHERE event_id % 5 = 0
      |GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin

  // ---------------------------------------------------------------- q107
  // Stream-stream interval join (Streams.intervalJoin) under the
  // oracle: clicks attributed to purchases of the same user within a
  // trailing 6-hour window, replayed as deterministic event-time-
  // ordered micro-batches (q100's pinned-mtime technique — the two
  // time slices arrive as separate batches, so cross-slice matches
  // exercise real buffered join state, not single-batch luck). Both
  // sides carry 8-hour watermarks bounding the state; inner-join
  // matches emit in the batch they form, so no sentinel run is
  // needed. DuckDB folds the batch twin: a plain interval self-join.
  private[queries] def q107(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tmp = graft.TempDirs.create("graft-q107")
    val ev = t(s, dir, "events").filter($"user_id" < 30 &&
        ($"event_type" === "click" || $"event_type" === "purchase"))
      .select($"event_id", $"ts", $"user_id", $"event_type")
    val inDir = s"$tmp/in"; val outDir = s"$tmp/out"; val cp = s"$tmp/cp"
    def run(): Unit = {
      withShufflePartitions(s, 4) {
        val stream = s.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", 1).parquet(inDir)
        val joined = graft.streaming.Streams.intervalJoin(
            stream.filter($"event_type" === "click"),
            stream.filter($"event_type" === "purchase"),
            "user_id", "ts", lookback = "6 hours", watermark = "8 hours")
          .select(col("l.event_id").as("click_id"),
            col("r.event_id").as("purchase_id"),
            col("l.user_id").as("user_id"))
        val q = joined.writeStream.outputMode("append")
          .format("parquet").option("path", outDir)
          .option("checkpointLocation", cp)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
    }
    val drive = new SliceDrive(inDir)
    import drive.writeSlice
    val mm = ev.agg(min($"ts"), max($"ts")).head()
    val (lo, hi) = (mm.getTimestamp(0).getTime, mm.getTimestamp(1).getTime)
    val mid = lo + (hi - lo) / 2
    writeSlice(ev.filter(unix_millis($"ts") < mid), 0)
    writeSlice(ev.filter(unix_millis($"ts") >= mid), 1)
    run()
    s.read.parquet(outDir).orderBy($"purchase_id", $"click_id")
      .select($"click_id", $"purchase_id", $"user_id")
  }
  private[queries] lazy val q107Sql =
    """SELECT c.event_id AS click_id, p.event_id AS purchase_id,
      | c.user_id AS user_id
      |FROM events c JOIN events p
      | ON c.user_id = p.user_id
      | AND c.ts::TIMESTAMP >= p.ts::TIMESTAMP - INTERVAL 6 HOUR
      | AND c.ts::TIMESTAMP <= p.ts::TIMESTAMP
      |WHERE c.event_type = 'click' AND p.event_type = 'purchase'
      | AND c.user_id < 30
      |ORDER BY purchase_id, click_id""".stripMargin

  // ---------------------------------------------------------------- q108
  // Custom sessionization state machine (Streams.sessionize,
  // flatMapGroupsWithState + event-time timeout) under the oracle:
  // 30-minute-gap sessions per user, driven as event-time-ordered
  // micro-batches; a far-future sentinel for a dummy user in a
  // checkpoint-RESUMED second run advances the watermark past every
  // real lastTs+gap so the timeout path closes the remaining open
  // sessions (q100's finalization trick — sessions broken by a LATER
  // event close inline during run 1, so both close paths are
  // exercised). Timestamps are second-truncated on BOTH engines: the
  // state machine folds millisecond longs, and second granularity
  // keeps the µs-vs-ms floor identity trivially exact. DuckDB folds
  // the batch twin: lag-gap breaks → running session ids → group.
  private[queries] def q108(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tmp = graft.TempDirs.create("graft-q108")
    val ev = t(s, dir, "events").filter($"user_id" < 25)
      .select($"user_id", date_trunc("second", $"ts").as("ts"), $"event_id")
    val inDir = s"$tmp/in"; val outDir = s"$tmp/out"; val cp = s"$tmp/cp"
    def run(): Unit = {
      withShufflePartitions(s, 4) {
        val stream = s.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", 1).parquet(inDir)
        val sess = graft.streaming.Streams.sessionize(
          stream.as[graft.streaming.Streams.SessionEvent], gapMinutes = 30)
        val q = sess.toDF().writeStream.outputMode("append")
          .format("parquet").option("path", outDir)
          .option("checkpointLocation", cp)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
    }
    val drive = new SliceDrive(inDir)
    import drive.writeSlice
    val mm = ev.agg(min($"ts"), max($"ts")).head()
    val (lo, hi) = (mm.getTimestamp(0).getTime, mm.getTimestamp(1).getTime)
    val mid = lo + (hi - lo) / 2
    writeSlice(ev.filter(unix_millis($"ts") < mid), 0)
    writeSlice(ev.filter(unix_millis($"ts") >= mid), 1)
    run()
    writeSlice(s.range(1).select(lit(-1L).as("user_id"),
      lit(java.sql.Timestamp.valueOf("2031-01-01 00:00:00")).as("ts"),
      lit(0L).as("event_id")), 2)
    run()
    s.read.parquet(outDir).filter($"user_id" >= 0)
      .select($"user_id", $"session_start", $"session_end", $"n_events")
      .orderBy($"user_id", $"session_start")
  }
  private[queries] lazy val q108Sql =
    """WITH e AS (SELECT user_id,
      |  date_trunc('second', ts::TIMESTAMP) AS ts, event_id
      | FROM events WHERE user_id < 25),
      |s AS (SELECT user_id, ts, event_id,
      |  CASE WHEN lag(ts) OVER w IS NULL
      |    OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
      |   THEN 1 ELSE 0 END AS brk
      | FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |g AS (SELECT user_id, ts, brk,
      |  sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS UNBOUNDED PRECEDING) AS sess
      | FROM s)
      |SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
      | count(*) AS n_events
      |FROM g GROUP BY user_id, sess
      |ORDER BY user_id, session_start""".stripMargin

  // ---------------------------------------------------------------- q111
  // Streaming refinery capstone: the ingest loop a 100 TB training-data
  // pipeline actually runs, as ONE streaming job under the oracle —
  // each micro-batch (doc_id-ordered slices, q100's pinned-mtime
  // technique; the last slice is all exact duplicates of earlier docs)
  // dedups against the PERSISTED fingerprint index (first occurrence
  // wins, one index anti-join — the corpus is never re-fingerprinted),
  // quality-gates the fresh docs, folds (lang, tokens) into the
  // standing rollup via IncrementalAgg's exactly-once batch protocol,
  // and appends its fingerprints so later batches see them. Composes
  // q21 (exact dedup) + q80's incremental-index shape + q18 (quality)
  // + q103 (exactly-once IVM) end to end. DuckDB folds the whole
  // stream: global first-occurrence dedup → gate → group-by.
  private[queries] def q111(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tmp = graft.TempDirs.create("graft-q111")
    val base = t(s, dir, "documents").select($"doc_id", $"text", $"lang")
    val dups = base.filter($"doc_id" < 100)
      .select(($"doc_id" + 10000000L).as("doc_id"), $"text", $"lang")
    val inDir = s"$tmp/in"; val idx = s"$tmp/idx"
    val roll = s"$tmp/roll"; val cp = s"$tmp/cp"
    val drive = new SliceDrive(inDir)
    import drive.writeSlice
    writeSlice(base.filter($"doc_id" < 250), 0)
    writeSlice(base.filter($"doc_id" >= 250), 1)
    writeSlice(dups, 2)
    val sink: (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
               Long) => Unit = (batch, id) => {
      val sp = batch.sparkSession
      import org.apache.spark.sql.expressions.Window
      val fp = batch.toDF()
        .withColumn("fp", TextAnalysis.fingerprint(col("text")))
      // first occurrence WITHIN the batch (min doc_id per fingerprint)
      // — materialized once: it feeds the bloom build, the broadcast
      // key set and the anti join's delta side (frontierBatch's note)
      val w = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
      val firstHere = graft.operators.Materialize(
        fp.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn"))
      val fs = Staging.fsOf(sp, idx)
      val known =
        if (fs.exists(new org.apache.hadoop.fs.Path(idx)))
          sp.read.parquet(idx)
        else firstHere.select(col("fp")).limit(0)
      // ...and not already in the persisted index (the INVERTED
      // probe — bloom-pruned index scan, broadcast semi + anti; the
      // prior corpus is never re-fingerprinted NOR shuffled)
      val fresh = graft.operators.Materialize(
        graft.streaming.Streams.freshAgainstIndex(firstHere, "fp", known))
      val gated = fresh
        .withColumn("q",
          floor(TextAnalysis.qualityScore(col("text")) * 10000.0 + 0.5)
            / 10000.0)
        .filter(col("q") >= 0.45)
        .select(col("lang"),
          TextAnalysis.wsTokenCount(col("text")).cast("long").as("tokens"))
      IncrementalAgg.refreshAdditive(sp, roll, gated,
        Seq("lang"), Seq("tokens"), s"b$id")
      fresh.select(col("fp")).write
        .mode(org.apache.spark.sql.SaveMode.Append).parquet(idx)
    }
    withShufflePartitions(s, 4) {
      val q = s.readStream.schema(base.schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir)
        .writeStream
        .option("checkpointLocation", cp)
        .foreachBatch(sink)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    s.read.parquet(roll)
      .select($"lang", $"n_rows", $"sum_tokens")
      .orderBy($"lang")
  }
  private[queries] def q111Sql: String = {
    val stopRe = s"\\b(${TextAnalysis.stopwords.mkString("|")})\\b"
    s"""WITH u AS (
       | SELECT doc_id, text, lang FROM documents
       | UNION ALL
       | SELECT doc_id + 10000000, text, lang FROM documents
       | WHERE doc_id < 100),
       |f AS (SELECT doc_id, text, lang,
       |  md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fp
       | FROM u),
       |k AS (SELECT doc_id, text, lang FROM f
       | QUALIFY row_number() OVER (PARTITION BY fp ORDER BY doc_id) = 1),
       |m AS (SELECT lang,
       |  CAST(len(regexp_extract_all(text, '\\S+')) AS DOUBLE) AS toks,
       |  CAST(len(regexp_extract_all(lower(text), '$stopRe')) AS DOUBLE)
       |    AS stop,
       |  CAST(len(list_distinct(regexp_extract_all(text, '\\S+')))
       |    AS DOUBLE) AS dist
       | FROM k),
       |g AS (SELECT lang, CAST(toks AS BIGINT) AS tokens FROM m
       | WHERE floor((CASE WHEN toks > 0 THEN
       |   least(1.0, toks / 100.0) * 0.4
       |   + least(1.0, stop * 5.0 / toks) * 0.3
       |   + (dist / toks) * 0.3 ELSE 0.0 END) * 10000.0 + 0.5) / 10000.0
       |   >= 0.45)
       |SELECT lang, count(*) AS n_rows,
       | CAST(sum(tokens) AS BIGINT) AS sum_tokens
       |FROM g GROUP BY lang ORDER BY lang""".stripMargin
  }

  // ---------------------------------------------------------------- q132
  // Stream-stream LEFT OUTER interval join — ST-family's hardest
  // append-mode semantics: a click with no purchase in its window
  // emits exactly once, with a NULL purchase_id, only after the
  // watermark proves no match can still arrive. Driven like q107
  // (event-time-ordered slices via pinned mtimes), then a far-future
  // sentinel pair in a checkpoint-RESUMED run advances the watermark
  // past every real window so expired left state flushes its null
  // rows (the no-data micro-batch q100's finalization leans on). The
  // sentinel click itself can never flush — the watermark never
  // passes its own far-future window — and is filtered by user_id.
  // Oracle: the batch LEFT JOIN with the same interval condition.
  private[queries] def q132(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tmp = graft.TempDirs.create("graft-q132")
    val ev = t(s, dir, "events").filter($"user_id" < 30 &&
        ($"event_type" === "click" || $"event_type" === "purchase"))
      .select($"event_id", $"ts", $"user_id", $"event_type")
    val inDir = s"$tmp/in"; val outDir = s"$tmp/out"; val cp = s"$tmp/cp"
    def run(): Unit = {
      withShufflePartitions(s, 4) {
        val stream = s.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", 1).parquet(inDir)
        val joined = graft.streaming.Streams.intervalJoinOuter(
            stream.filter($"event_type" === "click"),
            stream.filter($"event_type" === "purchase"),
            "user_id", "ts", lookback = "6 hours", watermark = "8 hours")
          .select(col("l.event_id").as("click_id"),
            col("r.event_id").as("purchase_id"),
            col("l.user_id").as("user_id"))
        val q = joined.writeStream.outputMode("append")
          .format("parquet").option("path", outDir)
          .option("checkpointLocation", cp)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
    }
    val drive = new SliceDrive(inDir)
    import drive.writeSlice
    val mm = ev.agg(min($"ts"), max($"ts")).head()
    val (lo, hi) = (mm.getTimestamp(0).getTime, mm.getTimestamp(1).getTime)
    val mid = lo + (hi - lo) / 2
    writeSlice(ev.filter(unix_millis($"ts") < mid), 0)
    writeSlice(ev.filter(unix_millis($"ts") >= mid), 1)
    run()
    // sentinel pair: one per side so BOTH watermark nodes advance
    // past every real window in the resumed run's finalization
    writeSlice(s.range(2).select(lit(-1L).as("event_id"),
      lit(java.sql.Timestamp.valueOf("2031-01-01 00:00:00")).as("ts"),
      lit(-1L).as("user_id"),
      when($"id" === 0, "click").otherwise("purchase").as("event_type")),
      2)
    run()
    s.read.parquet(outDir).filter($"user_id" >= 0)
      .orderBy($"click_id", $"purchase_id")
      .select($"click_id", $"purchase_id", $"user_id")
  }
  private[queries] lazy val q132Sql =
    """SELECT c.event_id AS click_id, p.event_id AS purchase_id,
      | c.user_id AS user_id
      |FROM events c LEFT JOIN events p
      | ON c.user_id = p.user_id
      | AND p.event_type = 'purchase'
      | AND c.ts::TIMESTAMP >= p.ts::TIMESTAMP - INTERVAL 6 HOUR
      | AND c.ts::TIMESTAMP <= p.ts::TIMESTAMP
      |WHERE c.event_type = 'click' AND c.user_id < 30
      |ORDER BY click_id, purchase_id""".stripMargin

  // ---------------------------------------------------------------- q133
  // Watermarked streaming dedup (Streams.dedupedStream, ST3's
  // admission gate) under the oracle: slice 1 REDELIVERS a third of
  // slice 0's events byte-identically (the at-least-once source every
  // real queue is), and dropDuplicatesWithinWatermark must admit each
  // event_id exactly once across micro-batches. The oracle
  // parameterization uses a horizon covering the fixture's full span
  // — no state eviction, so the final table is provably the plain
  // DISTINCT (the exhaustive-mode pattern: production runs a bounded
  // horizon, spec-pinned; the oracle runs the parameterization whose
  // semantics SQL can state exactly). Emission is immediate on first
  // arrival (dedup state needs no window close), so no sentinel run.
  private[queries] def q133(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tmp = graft.TempDirs.create("graft-q133")
    val ev = t(s, dir, "events").filter($"user_id" < 40)
      .select($"event_id", $"ts", $"user_id", $"event_type")
    val inDir = s"$tmp/in"; val outDir = s"$tmp/out"; val cp = s"$tmp/cp"
    val drive = new SliceDrive(inDir)
    import drive.writeSlice
    val mm = ev.agg(min($"ts"), max($"ts")).head()
    val (lo, hi) = (mm.getTimestamp(0).getTime, mm.getTimestamp(1).getTime)
    val mid = lo + (hi - lo) / 2
    writeSlice(ev.filter(unix_millis($"ts") < mid), 0)
    writeSlice(ev.filter(unix_millis($"ts") >= mid)
      .unionByName(ev.filter(unix_millis($"ts") < mid &&
        pmod($"event_id", lit(3)) === 0)), 1)     // redelivery
    withShufflePartitions(s, 4) {
      val stream = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir)
      val q = graft.streaming.Streams.dedupedStream(
          stream, "event_id", "ts", "60 days")
        .select($"event_id", $"user_id", $"event_type")
        .writeStream.outputMode("append")
        .format("parquet").option("path", outDir)
        .option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    s.read.parquet(outDir).orderBy($"event_id")
      .select($"event_id", $"user_id", $"event_type")
  }
  private[queries] lazy val q133Sql =
    """SELECT event_id, user_id, event_type
      |FROM events WHERE user_id < 40
      |ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------- q137
  // Stream-stream FULL OUTER interval join — completes q132's matrix:
  // BOTH sides' unmatched rows must emit exactly once (a click with no
  // purchase → NULL purchase_id; a purchase with no click in its
  // trailing window → NULL click_id), each only after the watermark
  // proves no match can still arrive. Same drive as q132:
  // event-time-ordered slices, then a far-future sentinel PAIR in a
  // checkpoint-resumed run advances both watermark nodes so expired
  // state on both sides flushes its null rows. Output ids are
  // null-coalesced to -1 so the ordering contract is engine-neutral
  // (Spark sorts NULLs first, DuckDB last). Oracle: batch FULL JOIN of
  // the pre-filtered sides with the same interval condition.
  private[queries] def q137(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tmp = graft.TempDirs.create("graft-q137")
    val ev = t(s, dir, "events").filter($"user_id" < 30 &&
        ($"event_type" === "click" || $"event_type" === "purchase"))
      .select($"event_id", $"ts", $"user_id", $"event_type")
    val inDir = s"$tmp/in"; val outDir = s"$tmp/out"; val cp = s"$tmp/cp"
    def run(): Unit = {
      withShufflePartitions(s, 4) {
        val stream = s.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", 1).parquet(inDir)
        val joined = graft.streaming.Streams.intervalJoinFullOuter(
            stream.filter($"event_type" === "click"),
            stream.filter($"event_type" === "purchase"),
            "user_id", "ts", lookback = "6 hours", watermark = "8 hours")
          .select(col("l.event_id").as("click_id"),
            col("r.event_id").as("purchase_id"),
            coalesce(col("l.user_id"), col("r.user_id")).as("user_id"))
        val q = joined.writeStream.outputMode("append")
          .format("parquet").option("path", outDir)
          .option("checkpointLocation", cp)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
    }
    val drive = new SliceDrive(inDir)
    import drive.writeSlice
    val mm = ev.agg(min($"ts"), max($"ts")).head()
    val (lo, hi) = (mm.getTimestamp(0).getTime, mm.getTimestamp(1).getTime)
    val mid = lo + (hi - lo) / 2
    writeSlice(ev.filter(unix_millis($"ts") < mid), 0)
    writeSlice(ev.filter(unix_millis($"ts") >= mid), 1)
    run()
    writeSlice(s.range(2).select(lit(-1L).as("event_id"),
      lit(java.sql.Timestamp.valueOf("2031-01-01 00:00:00")).as("ts"),
      lit(-1L).as("user_id"),
      when($"id" === 0, "click").otherwise("purchase").as("event_type")),
      2)
    run()
    s.read.parquet(outDir).filter($"user_id" >= 0)
      .select(coalesce($"click_id", lit(-1L)).as("click_id"),
        coalesce($"purchase_id", lit(-1L)).as("purchase_id"),
        $"user_id")
      .orderBy($"click_id", $"purchase_id", $"user_id")
  }
  private[queries] lazy val q137Sql =
    """WITH c AS (
      | SELECT event_id, ts::TIMESTAMP AS ts, user_id FROM events
      | WHERE event_type = 'click' AND user_id < 30),
      |p AS (
      | SELECT event_id, ts::TIMESTAMP AS ts, user_id FROM events
      | WHERE event_type = 'purchase' AND user_id < 30)
      |SELECT coalesce(c.event_id, -1) AS click_id,
      | coalesce(p.event_id, -1) AS purchase_id,
      | coalesce(c.user_id, p.user_id) AS user_id
      |FROM c FULL JOIN p
      | ON c.user_id = p.user_id
      | AND c.ts >= p.ts - INTERVAL 6 HOUR
      | AND c.ts <= p.ts
      |ORDER BY click_id, purchase_id, user_id""".stripMargin

  // ---------------------------------------------------------------- q142
  // Stream-stream RIGHT OUTER interval join — the last arm of q132's
  // matrix under the oracle (inner q107, left q132, full q137; right
  // was spec-pinned only): a purchase with no click in its trailing
  // window emits exactly once with NULL click_id, only after the LEFT
  // watermark proves no matching click can still arrive. Same drive
  // as q137 — event-time-ordered slices, far-future sentinel pair in
  // a checkpoint-resumed run — and the shared intervalJoinImpl body
  // guarantees the interval condition cannot drift from the other
  // arms. Oracle: batch RIGHT JOIN with the same condition.
  private[queries] def q142(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tmp = graft.TempDirs.create("graft-q142")
    val ev = t(s, dir, "events").filter($"user_id" < 30 &&
        ($"event_type" === "click" || $"event_type" === "purchase"))
      .select($"event_id", $"ts", $"user_id", $"event_type")
    val inDir = s"$tmp/in"; val outDir = s"$tmp/out"; val cp = s"$tmp/cp"
    def run(): Unit = {
      withShufflePartitions(s, 4) {
        val stream = s.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", 1).parquet(inDir)
        val joined = graft.streaming.Streams.intervalJoinRightOuter(
            stream.filter($"event_type" === "click"),
            stream.filter($"event_type" === "purchase"),
            "user_id", "ts", lookback = "6 hours", watermark = "8 hours")
          .select(col("l.event_id").as("click_id"),
            col("r.event_id").as("purchase_id"),
            col("r.user_id").as("user_id"))
        val q = joined.writeStream.outputMode("append")
          .format("parquet").option("path", outDir)
          .option("checkpointLocation", cp)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
    }
    val drive = new SliceDrive(inDir)
    import drive.writeSlice
    val mm = ev.agg(min($"ts"), max($"ts")).head()
    val (lo, hi) = (mm.getTimestamp(0).getTime, mm.getTimestamp(1).getTime)
    val mid = lo + (hi - lo) / 2
    writeSlice(ev.filter(unix_millis($"ts") < mid), 0)
    writeSlice(ev.filter(unix_millis($"ts") >= mid), 1)
    run()
    writeSlice(s.range(2).select(lit(-1L).as("event_id"),
      lit(java.sql.Timestamp.valueOf("2031-01-01 00:00:00")).as("ts"),
      lit(-1L).as("user_id"),
      when($"id" === 0, "click").otherwise("purchase").as("event_type")),
      2)
    run()
    s.read.parquet(outDir).filter($"user_id" >= 0)
      .select(coalesce($"click_id", lit(-1L)).as("click_id"),
        $"purchase_id", $"user_id")
      .orderBy($"click_id", $"purchase_id")
  }
  private[queries] lazy val q142Sql =
    """WITH c AS (
      | SELECT event_id, ts::TIMESTAMP AS ts, user_id FROM events
      | WHERE event_type = 'click' AND user_id < 30),
      |p AS (
      | SELECT event_id, ts::TIMESTAMP AS ts, user_id FROM events
      | WHERE event_type = 'purchase' AND user_id < 30)
      |SELECT coalesce(c.event_id, -1) AS click_id,
      | p.event_id AS purchase_id, p.user_id AS user_id
      |FROM c RIGHT JOIN p
      | ON c.user_id = p.user_id
      | AND c.ts >= p.ts - INTERVAL 6 HOUR
      | AND c.ts <= p.ts
      |ORDER BY click_id, purchase_id""".stripMargin

  // ---------------------------------------------------------------- q180
  // STREAMING crawl frontier — q172's admission funnel as the
  // continuous job a live crawler actually runs
  // (graft.streaming.Streams.streamingFrontier): URL batches arrive
  // (doc_id-ordered slices, the pinned-mtime drive), and each
  // micro-batch canonicalizes, dedups against the PERSISTED
  // seen-canon index via the INVERTED probe (bloom-pruned scan →
  // broadcast semi → broadcast anti, Streams.frontierFresh — the
  // crawl history is never shuffled NOR re-canonicalized), applies
  // the static broadcast robots rules, and admits under the
  // PERSISTED per-domain quota state (IncrementalAgg's exactly-once
  // batch protocol, q111's pattern) — an admitted URL's global rank
  // = prior count + in-batch rank, so the streaming run must
  // reproduce the batch funnel EXACTLY: q180's oracle IS q172's
  // (same fixture, same SQL), proving batch ≡ streaming
  // cross-engine.
  private[queries] def q180(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tmp = graft.TempDirs.create("graft-q180")
    val inDir = s"$tmp/in"; val seen = s"$tmp/seen"
    val counts = s"$tmp/counts"; val adm = s"$tmp/admitted"
    val cp = s"$tmp/cp"
    val raw = frontierRaw(s, dir)
    val drive = new SliceDrive(inDir)
    import drive.writeSlice
    writeSlice(raw.filter($"doc_id" < 150), 0)
    writeSlice(raw.filter($"doc_id" >= 150 && $"doc_id" < 300), 1)
    writeSlice(raw.filter($"doc_id" >= 300), 2)
    val rules = Robots.parseRobots(frontierSites(s, dir), "domain",
      "txt", "graftbot").persist()
    withShufflePartitions(s, 4) {
      val q = graft.streaming.Streams.streamingFrontier(
        s.readStream.schema(raw.schema)
          .option("maxFilesPerTrigger", 1).parquet(inDir),
        "doc_id", "url", rules, perDomainQuota = 3,
        seenPath = seen, countsPath = counts, admittedPath = adm,
        checkpoint = cp)
      q.awaitTermination()
    }
    rules.unpersist()
    s.read.parquet(adm)
      .select($"doc_id", $"domain", $"canon", $"rank")
      .orderBy($"doc_id")
  }
  // batch ≡ streaming: the oracle is literally q172's
  private[queries] lazy val q180Sql = q172Sql
}
