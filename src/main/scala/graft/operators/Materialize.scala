package graft.operators

import java.lang.ref.WeakReference

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Compute-once materialization of a shared intermediate.
  *
  * Catalyst's exchange reuse does not fire across differently-aliased
  * (or differently-pruned) consumers of the same subtree, so a shared
  * expensive intermediate (signature aggregates, tf tables, iterative
  * labels) must be materialized explicitly or it recomputes per branch.
  *
  * Two strategies, picked by `spark.graft.materialize`:
  *  - `local` (default): `localCheckpoint(eager = false)` — fastest
  *    (executor-memory blocks, lineage truncated, no extra job), but
  *    the blocks are NON-RESILIENT: on a real cluster an executor loss
  *    makes the truncated lineage unrecoverable and fails the job.
  *    Right for local[]/tests/bench.
  *  - `resilient`: a reliable `checkpoint(eager = false)` when the
  *    session has a checkpoint dir (blocks on the shared FS survive any
  *    executor loss, lineage truncated for iterative loops), else
  *    `persist(DISK_ONLY)` (blocks recomputable from retained lineage).
  *    Right for multi-executor clusters — set
  *    `spark.graft.materialize=resilient` plus
  *    `sparkContext.setCheckpointDir(...)` in cluster submits.
  *
  * Laziness matters either way: an EAGER checkpoint schedules an extra
  * materialization job (~0.3-1.5 s measured locally) that the first
  * consumer action would have filled anyway.
  */
object Materialize {
  val ModeKey = "spark.graft.materialize"

  // Every frame iterCut hands out, until released. localCheckpoint
  // persistence lives at the RDD layer (NOT the cacheManager), so
  // `df.unpersist()` on an iterCut frame is a silent no-op and the
  // blocks stay in block-manager memory until the RDD object is GC'd
  // — across a 200-query bench run the iterative family strands ~10
  // checkpointed frames of eviction pressure. The registry makes the
  // frames releasable deterministically: operators release their own
  // intermediates per round via [[release]], and harnesses
  // (`graft.Harness.afterEntry`, or a spec) drop the FINAL returned
  // frames after consuming them via [[releaseAll]].
  //
  // WEAK references: a library caller of Graph.pageRank/hits/
  // labelPropagation who never calls releaseAll must not have the
  // registry pin their final frames forever — once the caller drops
  // the frame, GC clears the ref and the ContextCleaner reclaims the
  // blocks through the normal RDD-GC path (the pre-registry
  // behavior). Cleared refs are swept on every registry touch.
  //
  // Each entry also keeps the ids of the frame's checkpoint RDDs: a
  // result built ON a frame (hits returns hub.join(auth)) pins those
  // blocks through its own plan after GC has cleared the frame
  // object, so releaseAll frees them by id. Ids pin nothing, and the
  // context's persistent-RDD map holds its RDDs weakly.
  private final class Cut(df: DataFrame) {
    val frame = new WeakReference(df)
    val sc = new WeakReference(df.sparkSession.sparkContext)
    private val rddIds = checkpointRdds(df).map(_.id)
    def persisted: Seq[RDD[_]] = Option(sc.get).toSeq.flatMap { c =>
      val live = c.getPersistentRDDs
      rddIds.flatMap(live.get)
    }
    def live: Boolean = frame.get != null || persisted.nonEmpty
  }

  private val tracked = scala.collection.mutable.ListBuffer.empty[Cut]

  private def sweepLocked(): Unit = tracked.filterInPlace(_.live)

  private def checkpointRdds(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd }

  /** Tracked entries whose frame or blocks are still live — test hook. */
  private[graft] def trackedCount: Int =
    synchronized { sweepLocked(); tracked.size }

  def apply(df: DataFrame): DataFrame =
    df.sparkSession.conf.getOption(ModeKey).getOrElse("local") match {
      case "resilient" =>
        if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
          df.checkpoint(eager = false)
        else df.persist(StorageLevel.DISK_ONLY)
      case _ => df.localCheckpoint(eager = false)
    }

  /** Free the blocks behind a frame [[iterCut]] produced. Checkpointed
    * frames (local or reliable) carry their RDD inside the plan's
    * LogicalRDD leaf and must be unpersisted at the RDD layer; the
    * DISK_ONLY_2 fallback is a normal cacheManager persist, covered by
    * `df.unpersist()`. Releasing is terminal for localCheckpoint
    * frames (truncated lineage cannot recompute) — call only after the
    * frame's consumers are done. Idempotent.
    */
  def release(df: DataFrame): Unit = {
    checkpointRdds(df).foreach(_.unpersist(blocking = false))
    df.unpersist()
    synchronized {
      tracked.filterInPlace(c => (c.frame.get ne df) && c.live)
    }
  }

  /** Release every still-tracked [[iterCut]] frame of `spark`'s
    * context — the post-consume hook `Harness.afterEntry` runs after
    * each entry so one entry's final iterative frames never ride as
    * eviction pressure into the next (assertable:
    * `sparkContext.getPersistentRDDs` returns to its pre-query size),
    * also when GC has already cleared a frame whose blocks a returned
    * plan still pins.
    */
  def releaseAll(spark: org.apache.spark.sql.SparkSession): Unit = {
    val mine = synchronized {
      sweepLocked()
      val (m, rest) = tracked.partition(_.sc.get eq spark.sparkContext)
      tracked.clear(); tracked ++= rest
      m
    }
    mine.foreach { c =>
      c.persisted.foreach(_.unpersist(blocking = false))
      Option(c.frame.get).foreach(_.unpersist())
    }
  }

  /** EAGER lineage cut for iterative loops (PageRank, label
    * propagation): each round's result must be materialized before the
    * caller frees the previous round's blocks, or freeing them forces
    * a recompute of the whole chain. [[apply]]'s lazy forms cannot
    * guarantee that ordering, so loops route here instead:
    *  - `local` (default): eager `localCheckpoint()` — lineage
    *    truncated, blocks in executor memory/disk. Fast, NON-RESILIENT
    *    (an executor loss kills the job) — right for local[]/tests.
    *  - `resilient` + checkpoint dir: eager reliable `checkpoint()` —
    *    lineage truncated AND blocks on the shared FS, so a lost
    *    executor mid-run recovers instead of killing a multi-hour
    *    100 TB iteration. THE cluster configuration for iterative ops.
    *  - `resilient`, no checkpoint dir: replicated
    *    `persist(DISK_ONLY_2)` forced eager — a single executor loss
    *    is absorbed by the replica, and lineage is RETAINED as the
    *    recompute backstop. Lineage grows ~4× per round here, so this
    *    fallback is for bounded iteration counts (≤~10); set a
    *    checkpoint dir for anything longer.
    */
  def iterCut(df: DataFrame): DataFrame = {
    val out =
      df.sparkSession.conf.getOption(ModeKey).getOrElse("local") match {
        case "resilient" =>
          if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
            df.checkpoint()
          else { val p = df.persist(StorageLevel.DISK_ONLY_2); p.count(); p }
        case _ => df.localCheckpoint()
      }
    synchronized {
      sweepLocked()
      tracked += new Cut(out)
    }
    out
  }
}
