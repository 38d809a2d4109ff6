package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{
  QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}

/** Per-phase wall-time probe for the bench harness.
  *
  * A full-suite bench number for a streaming or iterative entry is one
  * scalar hiding 3-8 micro-batches / iterations — when a run diverges
  * (driver host contention inflated q180 13.8× in r16 and r18 with no
  * code change), the scalar cannot show WHERE the time went and every
  * divergence becomes a debate. The probe makes the decomposition a
  * first-class bench output: iterative operators wrap each round in
  * [[time]], [[recordMicroBatches]] records each micro-batch's
  * triggerExecution, and Bench emits them per entry on the
  * `probe_times` detail line (the `shuffle_bytes`-line pattern).
  *
  * Recording is GATED on an active entry name (set only by Bench):
  * library callers, Verify, and the test suites pay one volatile read
  * per iteration and allocate nothing.
  */
object BenchProbe {
  @volatile private var current: String = null
  private val buf =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, String, Double)]()

  /** Begin attributing probe records to bench entry `entry`. */
  def start(entry: String): Unit = { current = entry }

  /** Stop attributing (records outside an entry are dropped). */
  def stop(): Unit = { current = null }

  /** Record `sec` under `label` for the active entry, if any. The
    * streaming listener calls this from the listener-bus thread —
    * hence the concurrent queue.
    */
  def record(label: String, sec: Double): Unit = {
    val e = current
    if (e != null) buf.add((e, label, sec))
  }

  /** Time `body` under `label` when an entry is active; otherwise run
    * it untimed (zero overhead beyond the volatile read).
    */
  def time[T](label: String)(body: => T): T = {
    if (current == null) body
    else {
      val t0 = System.nanoTime()
      val r = body
      record(label, (System.nanoTime() - t0) / 1e9)
      r
    }
  }

  /** Record every completed micro-batch of `spark`'s streaming queries
    * as `batch<id>` → its triggerExecution seconds, under the active
    * entry — so a divergent streaming scalar decomposes into WHICH
    * batch ate the time. Events arrive on the listener-bus thread;
    * drain the bus (`ListenerBridge.drain`) before [[drain]]ing here.
    */
  def recordMicroBatches(spark: SparkSession): Unit =
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val ms = Option(e.progress.durationMs.get("triggerExecution"))
          .map(_.doubleValue).getOrElse(0.0)
        record(s"batch${e.progress.batchId}", ms / 1000.0)
      }
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    })

  /** Remove and return everything recorded since the last drain, in
    * arrival order, as (entry, label, seconds).
    */
  def drain(): Seq[(String, String, Double)] = {
    val out = scala.collection.mutable.ListBuffer
      .empty[(String, String, Double)]
    var x = buf.poll()
    while (x != null) { out += x; x = buf.poll() }
    out.toList
  }
}

/** Registry of bench/verify-scoped temp directories.
  *
  * Query entries that persist an index or drive a streaming source do
  * it under `Files.createTempDirectory` — across a 220-entry bench run
  * those dirs (parquet indexes, state stores, checkpoints) accumulate
  * as disk + state-store pressure and were a prime suspect in the
  * round-18 builder-side 1.4-1.7× drift on the iterative/index family.
  * Entries route creation through [[create]] so the harnesses
  * (`Harness.afterEntry`) can delete everything an entry left behind
  * right after consuming its result — the filesystem analog of
  * `Materialize.releaseAll`.
  *
  * Library/test callers that never call [[cleanAll]] keep the exact
  * old behavior (OS-temp dirs, cleaned by the OS), at the cost of one
  * queued Path each.
  */
object TempDirs {
  private val dirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()

  /** `Files.createTempDirectory(prefix)`, registered for [[cleanAll]]. */
  def create(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    dirs.add(p)
    p.toString
  }

  /** Recursively delete every directory created since the last clean.
    * Call only after the creating entry's result has been fully
    * consumed (a returned DataFrame may still read from the dir).
    * Deletion failures are swallowed — cleanup must never fail a run.
    */
  def cleanAll(): Unit = {
    var p = dirs.poll()
    while (p != null) { deleteRec(p.toFile); p = dirs.poll() }
  }

  private def deleteRec(f: java.io.File): Unit = {
    if (f.isDirectory) {
      val kids = f.listFiles()
      if (kids != null) kids.foreach(deleteRec)
    }
    try f.delete() catch { case _: Throwable => () }
  }
}
