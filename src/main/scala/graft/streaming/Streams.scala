package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Row, SaveMode}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

import graft.operators.{BloomJoin, IncrementalAgg, Materialize, Robots, Staging, Upsert}

/** Structured Streaming re-expression of the reference's polling-sensor
  * incremental machinery (SURVEY.md §2.10 ST1-ST6): the 60s/120s/300s
  * Dagster sensors (embedding_sensors.py:18, article_sensors.py:15)
  * become micro-batch triggers, the "backfill every 6h" dual mode
  * (ST4) is `Trigger.AvailableNow`, run-key dedup (ST3) is upsert
  * idempotency, and the state-machine column patches (ST2) run inside
  * `foreachBatch`. Event-time windows carry watermarks so the same
  * aggregations Events.scala runs in batch hold under late data.
  */
object Streams {

  case class SessionEvent(user_id: Long, ts: Timestamp, event_id: Long)
  case class SessionState(sessStart: Long, lastTs: Long, n: Long)
  case class ClosedSession(user_id: Long, session_start: Timestamp,
                           session_end: Timestamp, n_events: Long)

  /** ST1+ST2+ST3: the incremental micro-batch runner — stream in, apply
    * the stage transform, MERGE into the keyed table. `AvailableNow`
    * drains the backlog once (the sensor's backfill mode);
    * `Trigger.ProcessingTime("60 seconds")` reproduces the polling
    * cadence. Upsert idempotency makes replayed batches safe — the
    * reference gets the same guarantee from Mongo `$set` upserts.
    */
  def incrementalUpsert(input: DataFrame, stage: DataFrame => DataFrame,
                        tablePath: String, keys: Seq[String],
                        checkpoint: String,
                        trigger: Trigger = Trigger.AvailableNow())
      : StreamingQuery = {
    val sink: (Dataset[Row], Long) => Unit = (batch, _) =>
      Upsert.mergeIntoTable(batch.sparkSession, tablePath,
        stage(batch.toDF()), keys, patch = true)
    input.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch(sink)
      .start()
  }

  /** ST3: exactly-once work-item admission — the reference dedups
    * sensor run submissions by `run_key = f(url)` (article_sensors.py:71
    * et al.); in Structured Streaming that is dropDuplicates on the key
    * with a watermark bounding the dedup state (keys older than the
    * horizon are evicted — unbounded state is the naive version's
    * 100 TB failure mode).
    */
  def dedupedStream(input: DataFrame, keyCol: String, tsCol: String,
                    watermark: String): DataFrame =
    input.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCol)

  /** Streaming incremental dedup — the ingest-dedup loop as a
    * micro-batch sink: each batch of (id, text) docs computes its own
    * minhash band buckets, emits near-dup candidates against the
    * persisted corpus index
    * ([[graft.operators.Dedup.incrementalCandidatesPruned]] —
    * broadcast delta, the index SCAN pruned to the delta's band keys
    * via a pushed `In()` literal, zero index shuffle), appends the
    * candidates, then appends its own buckets — clustered by
    * `band_hash` through [[graft.operators.Layout.byKey]], so the
    * stored relation's row groups min/max-skip under later batches'
    * pushed keys — to the index so later batches see them. The index
    * holds PRE-BANDED bucket rows `(id, band, band_hash)`, not
    * signatures: the corpus is signed AND banded exactly once across
    * the stream's lifetime, and a batch reads only its collision
    * buckets, not the whole crawl history (the naive full-scan-per-
    * batch read is the 100 TB failure mode; `Layout.compact` bounds
    * the accreted file count). Replayed batches re-append the same
    * candidate pairs (and duplicate bucket rows); downstream
    * consumers dedupe on (id_a, id_b) — the same run-key idempotency
    * story as [[dedupedStream]], applied at the output instead of the
    * input.
    */
  def streamingDedup(input: DataFrame, idCol: String, textCol: String,
                     indexPath: String, candidatesPath: String,
                     checkpoint: String,
                     trigger: Trigger = Trigger.AvailableNow(),
                     indexFilesPerBatch: Int = 4)
      : StreamingQuery = {
    import graft.operators.{Dedup, Layout}
    val sink: (Dataset[Row], Long) => Unit = (batch, _) => {
      val spark = batch.sparkSession
      // lazy materialization: the buckets feed two write actions below
      val deltaBuckets = Materialize(Dedup.bandBuckets(
        Dedup.minhashSignatures(batch.toDF(), textCol, idCol)))
      // resolve against the PATH's filesystem, not fs.defaultFS — an
      // index on another scheme (s3a vs file) would otherwise throw
      // "Wrong FS" or silently answer exists() against the wrong store
      val fs = new org.apache.hadoop.fs.Path(indexPath)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val index =
        if (fs.exists(new org.apache.hadoop.fs.Path(indexPath)))
          spark.read.parquet(indexPath)
        else deltaBuckets.limit(0) // first batch: delta-delta pairs only
      Dedup.incrementalCandidatesPruned(index, deltaBuckets)
        .write.mode(SaveMode.Append).parquet(candidatesPath)
      Layout.byKey(deltaBuckets, "band_hash", indexFilesPerBatch)
        .write.mode(SaveMode.Append).parquet(indexPath)
    }
    input.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch(sink)
      .start()
  }

  /** The streaming frontier's seen-index probe, INVERTED so the crawl
    * history is never shuffled: `firstHere` (this batch's first-seen
    * canonical URLs — batch-sized by construction) must be deduped
    * against `known` (the persisted seen-canon index — crawl-history-
    * sized, i.e. billions of rows at 100 TB). The naive
    * `firstHere.join(known, "left_anti")` is a scale-killer: Spark
    * can only broadcast the RIGHT side of a left-anti join, so once
    * the index outgrows the broadcast threshold the plan degrades to
    * a sort-merge join that SHUFFLES THE ENTIRE CRAWL HISTORY every
    * micro-batch. Inversion (the q116 serve-path contract, bloom
    * form): (1) a bloom bitset over the batch canons prunes the seen
    * SCAN — history rows not colliding with this batch's keys are
    * dropped at the scan, before any join; (2) the pruned scan
    * broadcast-SEMI-joins against the batch canon set (build-right is
    * legal there), yielding the ≤ batch-sized "seen in this batch"
    * set; (3) that tiny set broadcasts into the left-anti. Result ≡
    * the naive anti join (the bloom admits false positives but the
    * exact semi join removes them; q180 shares q172's oracle), and NO
    * exchange ever carries the seen side — per-batch shuffle is
    * batch-sized (PlanSpec/ScaleSpec pin both). The bloom test is a
    * post-scan codegen'd filter (not a pushable source predicate), so
    * the seen relation is still READ once per batch — linear, never
    * shuffled; bound the accreted file count with
    * [[graft.operators.Layout.compact]].
    */
  def frontierFresh(firstHere: DataFrame, known: DataFrame,
                    expectedBatch: Long = 1000000L): DataFrame =
    freshAgainstIndex(firstHere, "canon", known, expectedBatch)

  /** The keyed general form of [[frontierFresh]]'s inverted probe:
    * rows of `delta` whose `keyCol` does NOT appear in `index` —
    * ≡ `delta.join(index, Seq(keyCol), "left_anti")`, planned so the
    * index side is bloom-pruned at its scan and never enters an
    * exchange. Any persisted dedup-key index probed by bounded
    * micro-batches (crawl seen-URLs, document fingerprints, run
    * keys) should route here instead of the naive anti join.
    */
  def freshAgainstIndex(delta: DataFrame, keyCol: String,
                        index: DataFrame,
                        expectedBatch: Long = 1000000L): DataFrame = {
    val batchKeys = Materialize(delta.select(col(keyCol)))
    val bloom = BloomJoin.buildBloom(batchKeys, keyCol, expectedBatch)
    if (bloom == null) delta // empty batch: nothing to probe
    else {
      val seenHit = index.select(col(keyCol))
        .filter(BloomJoin.mightContain(bloom, col(keyCol)))
        .join(broadcast(batchKeys), Seq(keyCol), "left_semi")
      delta.join(broadcast(seenHit), Seq(keyCol), "left_anti")
    }
  }

  /** One micro-batch of the crawl-frontier funnel (q172's admission
    * pipeline against persisted state): canonicalize → first-seen
    * within the batch → [[frontierFresh]] against the seen index →
    * robots admission under broadcast `rules` → per-domain quota
    * ranked across batches via the persisted counts table
    * (IncrementalAgg's exactly-once additive refresh). Appends
    * admitted rows `(doc_id, domain, canon, rank)` to `admittedPath`
    * and the batch's fresh canons to `seenPath`. Idempotency story:
    * replayed batches re-append the same rows; downstream consumers
    * key on (canon) / (doc_id) — the run-key pattern of
    * [[dedupedStream]] applied at the output.
    */
  def frontierBatch(batch: DataFrame, batchId: Long, idCol: String,
                    urlCol: String, rules: DataFrame,
                    perDomainQuota: Int, seenPath: String,
                    countsPath: String, admittedPath: String): Unit = {
    val sp = batch.sparkSession
    val T = graft.functions.Text
    val c = batch.select(col(idCol).as("doc_id"),
      T.canonicalUrl(col(urlCol)).as("canon"))
    val w = Window.partitionBy(col("canon")).orderBy(col("doc_id"))
    // materialized ONCE per batch: firstHere feeds the bloom build,
    // the broadcast batch-key set AND the anti join's delta side — the
    // lazy form re-ran the canonicalize + first-seen window for each
    // (three window shuffles of the batch per micro-batch at scale)
    val firstHere = Materialize(c
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn"))
    val fs = Staging.fsOf(sp, seenPath)
    val known =
      if (fs.exists(new org.apache.hadoop.fs.Path(seenPath)))
        sp.read.parquet(seenPath)
      else firstHere.select(col("canon")).limit(0)
    val fresh = Materialize(
      graft.Observe.time("fb_probe")(frontierFresh(firstHere, known)))
    val enriched = fresh
      .withColumn("domain", T.registrableDomainFromUrl(col("canon")))
      .withColumn("path",
        regexp_extract(col("canon"), "^[a-z]+://[^/]+(/.*)$", 1))
    val allowed = Robots.isAllowed(enriched, rules, "domain", "path")
      .filter(col("allowed"))
    val prior =
      if (fs.exists(new org.apache.hadoop.fs.Path(countsPath)))
        sp.read.parquet(countsPath)
          .select(col("domain"), col("n_rows").as("prior_n"))
      else allowed.select(col("domain")).limit(0)
        .withColumn("prior_n", lit(0L))
    val wd = Window.partitionBy(col("domain")).orderBy(col("doc_id"))
    // admitted must be MATERIALIZED by the counts refresh (the first
    // action) before the swap replaces the counts it reads
    val admitted = Materialize(allowed
      .withColumn("brank", row_number().over(wd))
      .join(prior, Seq("domain"), "left")
      .withColumn("rank",
        (coalesce(col("prior_n"), lit(0L)) + col("brank")).cast("int"))
      .filter(col("rank") <= perDomainQuota)
      .select(col("doc_id"), col("domain"), col("canon"), col("rank")))
    graft.Observe.time("fb_counts") {
      IncrementalAgg.refreshAdditive(sp, countsPath,
        admitted.select(col("domain")).withColumn("one", lit(1L)),
        Seq("domain"), Seq("one"), s"b$batchId")
    }
    graft.Observe.time("fb_admit") {
      admitted.write.mode(SaveMode.Append).parquet(admittedPath)
    }
    graft.Observe.time("fb_seen") {
      fresh.select(col("canon")).write.mode(SaveMode.Append)
        .parquet(seenPath)
    }
  }

  /** ST1+ST7 capstone: the continuous crawl frontier — each arriving
    * URL batch runs [[frontierBatch]] against the persisted
    * seen/counts state. The streaming twin of the batch funnel: both
    * produce identical admitted tables (q180's oracle IS q172's SQL).
    */
  def streamingFrontier(input: DataFrame, idCol: String, urlCol: String,
                        rules: DataFrame, perDomainQuota: Int,
                        seenPath: String, countsPath: String,
                        admittedPath: String, checkpoint: String,
                        trigger: Trigger = Trigger.AvailableNow())
      : StreamingQuery = {
    val sink: (Dataset[Row], Long) => Unit = (batch, id) =>
      frontierBatch(batch.toDF(), id, idCol, urlCol, rules,
        perDomainQuota, seenPath, countsPath, admittedPath)
    input.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch(sink)
      .start()
  }

  /** Streaming sketch-table maintenance — the streaming twin of
    * `Sketches.sketchTable` (q82's build pass): each micro-batch
    * builds its own per-group HLL sketches (one scan of the batch)
    * and APPENDS them as new slice rows; readers roll the slices up
    * with `Sketches.mergeEstimate`, which reads sketch BYTES only.
    * Merging is associative and order-independent, so the streamed
    * table answers exactly what a batch build over the union would —
    * without the stream ever rescanning history (the q80/IVM shape,
    * for distinct counts). Appends are per-batch files; compact with
    * `Layout.compact` when slices accrete.
    */
  def incrementalSketch(input: DataFrame, groupCols: Seq[String],
                        valueCol: String, tablePath: String,
                        checkpoint: String, lgK: Int = 12,
                        trigger: Trigger = Trigger.AvailableNow())
      : StreamingQuery = {
    val sink: (Dataset[Row], Long) => Unit = (batch, _) =>
      graft.operators.Sketches
        .sketchTable(batch.toDF(), groupCols, valueCol, lgK)
        .write.mode(org.apache.spark.sql.SaveMode.Append)
        .parquet(tablePath)
    input.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch(sink)
      .start()
  }

  /** Watermarked tumbling window aggregate — the streaming twin of
    * `Events.tumbling` (same output schema, append-mode safe: a window
    * is emitted once the watermark passes its end).
    */
  def tumbling(events: DataFrame, tsCol: String, groupCol: String,
               valueCol: String, width: String = "1 hour",
               watermark: String = "2 hours"): DataFrame =
    events.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), width).as("w"), col(groupCol))
      .agg(count(lit(1)).as("cnt"), sum(col(valueCol)).as("sum_value"))
      .select(col("w.start").as("window_start"), col(groupCol),
        col("cnt"), col("sum_value"))

  /** Watermarked stream-stream interval join: each right-side event
    * joined to left-side events of the same key within a trailing time
    * bound. Both sides carry watermarks so the join state is bounded —
    * Spark evicts buffered rows once the watermark passes the interval
    * (the unbounded-state trap of naive stream joins). Inputs must
    * expose (keyCol, tsCol); output = purchase rows with their
    * attributed click columns.
    */
  def intervalJoin(left: DataFrame, right: DataFrame, keyCol: String,
                   tsCol: String, lookback: String = "1 hour",
                   watermark: String = "2 hours"): DataFrame =
    intervalJoinImpl(left, right, keyCol, tsCol, lookback, watermark,
      "inner")

  /** [[intervalJoin]]'s LEFT OUTER arm: an unmatched left row emits
    * exactly once, with NULL right columns, when the watermark passes
    * its join window (so left state can provably never match again —
    * Spark's stream-stream outer contract). Both sides carry the
    * watermark and the two-sided time-range constraint, which is what
    * lets the engine expire state; the null emission itself rides the
    * no-data micro-batch that fires when a later batch (or a sentinel
    * row — q132's finalization trick) advances the watermark.
    */
  def intervalJoinOuter(left: DataFrame, right: DataFrame, keyCol: String,
                        tsCol: String, lookback: String = "1 hour",
                        watermark: String = "2 hours"): DataFrame =
    intervalJoinImpl(left, right, keyCol, tsCol, lookback, watermark,
      "left_outer")

  /** [[intervalJoin]]'s RIGHT OUTER arm — the mirror contract: an
    * unmatched RIGHT row (a purchase with no click in its trailing
    * window) emits exactly once, with NULL left columns, after the
    * watermark passes the last instant a matching left row could
    * still arrive.
    */
  def intervalJoinRightOuter(left: DataFrame, right: DataFrame,
                             keyCol: String, tsCol: String,
                             lookback: String = "1 hour",
                             watermark: String = "2 hours"): DataFrame =
    intervalJoinImpl(left, right, keyCol, tsCol, lookback, watermark,
      "right_outer")

  /** [[intervalJoin]]'s FULL OUTER arm: BOTH sides' unmatched rows
    * emit exactly once with NULL opposite columns once their state
    * provably cannot match (watermark past the join window) — the
    * attribution-pipeline completeness contract: every click AND
    * every purchase appears in the output exactly once per match or
    * once unmatched. Same shared body: the interval condition and
    * watermark handling cannot desynchronize across the four arms.
    */
  def intervalJoinFullOuter(left: DataFrame, right: DataFrame,
                            keyCol: String, tsCol: String,
                            lookback: String = "1 hour",
                            watermark: String = "2 hours"): DataFrame =
    intervalJoinImpl(left, right, keyCol, tsCol, lookback, watermark,
      "full_outer")

  // one body for both arms — the interval condition and watermark
  // handling must never desynchronize between inner and outer
  private def intervalJoinImpl(left: DataFrame, right: DataFrame,
                               keyCol: String, tsCol: String,
                               lookback: String, watermark: String,
                               joinType: String): DataFrame = {
    val l = left.withWatermark(tsCol, watermark).alias("l")
    val r = right.withWatermark(tsCol, watermark).alias("r")
    l.join(r,
      expr(s"l.$keyCol = r.$keyCol AND " +
        s"l.$tsCol BETWEEN r.$tsCol - INTERVAL $lookback AND r.$tsCol"),
      joinType)
  }

  /** Custom sessionization state machine via flatMapGroupsWithState:
    * per key, events extend the open session while within `gapMinutes`;
    * a later event (or event-time timeout) closes it and emits one
    * `ClosedSession` row. The batch oracle is `Events.sessionStats` —
    * same gap semantics, windowed-SQL formulation.
    */
  def sessionize(events: Dataset[SessionEvent], gapMinutes: Int)
      : Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60000L
    events.withWatermark("ts", s"$gapMinutes minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, ClosedSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid, evs, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(ClosedSession(uid, new Timestamp(s.sessStart),
              new Timestamp(s.lastTs), s.n))
          } else {
            // micro-batch iterators carry no order guarantee
            val sorted = evs.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var closed = List.empty[ClosedSession]
            var st = state.getOption
            sorted.foreach { e =>
              st match {
                case Some(s) if e.ts.getTime - s.lastTs <= gapMs =>
                  st = Some(s.copy(
                    lastTs = math.max(s.lastTs, e.ts.getTime), n = s.n + 1))
                case Some(s) =>
                  closed ::= ClosedSession(uid, new Timestamp(s.sessStart),
                    new Timestamp(s.lastTs), s.n)
                  st = Some(SessionState(e.ts.getTime, e.ts.getTime, 1))
                case None =>
                  st = Some(SessionState(e.ts.getTime, e.ts.getTime, 1))
              }
            }
            st.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.lastTs + gapMs)
            }
            closed.reverse.iterator
          }
      }
  }
}
