package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Graph, Materialize}

/** The iterCut frame registry's lifecycle contract: deterministic
  * release for harness callers (releaseAll), and WEAK tracking so a
  * library caller who drops the last reference to a pageRank/hits/
  * labelPropagation result without ever calling releaseAll does not
  * have the registry pin the frame (and its checkpoint blocks'
  * GC-path reclamation) forever.
  */
class MaterializeSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark

  // allocate in a helper so no test-method local retains the frame
  private def makeAndDrop(): Unit = {
    import spark.implicits._
    val df = Materialize.iterCut(Seq(1, 2, 3).toDF("x"))
    assert(df.count() == 3)
  }

  test("dropping the last reference to an iterCut frame shrinks " +
    "trackedCount under GC — no releaseAll needed") {
    spark // force session init before counting
    Materialize.releaseAll(spark)
    val before = Materialize.trackedCount
    makeAndDrop()
    assert(Materialize.trackedCount == before + 1)
    var tries = 0
    while (Materialize.trackedCount > before && tries < 100) {
      System.gc(); Thread.sleep(20); tries += 1
    }
    assert(Materialize.trackedCount == before,
      "weakly-tracked frame must be collectable without releaseAll")
  }

  test("spark.graft.materialize=resilient routes iterCut through a " +
    "RELIABLE checkpoint when a checkpoint dir is set, and through a " +
    "replicated persist when not — the cluster contract, not just " +
    "value equality") {
    import spark.implicits._
    def backingRdd(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.collect {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
      }.headOption
    // default mode: local checkpoint (the speed path — explicitly a
    // local-mode choice)
    // local checkpoints have checkpointData but NO checkpoint file
    val localDf = Materialize.iterCut(Seq(1, 2).toDF("x"))
    assert(backingRdd(localDf).exists(r =>
      r.isCheckpointed && r.getCheckpointFile.isEmpty))
    Materialize.release(localDf)
    spark.conf.set(Materialize.ModeKey, "resilient")
    try {
      // no checkpoint dir → replicated eager persist, lineage RETAINED
      // (no LogicalRDD leaf appears; the plan stays recomputable)
      val persisted = Materialize.iterCut(Seq(1, 2, 3).toDF("x"))
      assert(backingRdd(persisted).isEmpty,
        "persist fallback must keep the recomputable plan")
      assert(persisted.storageLevel ==
        org.apache.spark.storage.StorageLevel.DISK_ONLY_2)
      Materialize.release(persisted)
      val dir = java.nio.file.Files
        .createTempDirectory("graft-mat-cp").toString
      spark.sparkContext.setCheckpointDir(dir)
      try {
        // checkpoint dir set → RELIABLE checkpoint: lineage truncated
        // AND blocks on the (shared) FS, so an executor loss mid-run
        // recovers — THE 100 TB iterative configuration
        val reliable = Materialize.iterCut(Seq(1, 2, 3, 4).toDF("x"))
        assert(reliable.count() == 4)
        val rdd = backingRdd(reliable)
        assert(rdd.exists(r => r.isCheckpointed &&
          r.getCheckpointFile.isDefined),
          "must be RELIABLY checkpointed (files on the shared FS)")
        assert(rdd.flatMap(_.getCheckpointFile)
          .exists(_.contains(new java.io.File(dir).getName)),
          "checkpoint files must live under the configured dir")
        Materialize.release(reliable)
      } finally spark.sparkContext.setCheckpointDir(null)
    } finally spark.conf.unset(Materialize.ModeKey)
  }

  test("releaseAll still frees blocks deterministically and empties " +
    "the registry") {
    import spark.implicits._
    Materialize.releaseAll(spark)
    val pre = spark.sparkContext.getPersistentRDDs.size
    val df = Materialize.iterCut(Seq(1, 2, 3, 4).toDF("x"))
    assert(df.count() == 4)
    assert(spark.sparkContext.getPersistentRDDs.size > pre)
    assert(Materialize.trackedCount >= 1)
    Materialize.releaseAll(spark)
    assert(spark.sparkContext.getPersistentRDDs.size == pre)
    assert(Materialize.trackedCount == 0)
  }

  test("releaseAll frees the cut frames under a graph result after GC " +
    "cleared the frame objects — the result's plan still pins them") {
    import spark.implicits._
    Materialize.releaseAll(spark)
    // id sets, not sizes: the GC below also drops RDDs earlier tests
    // left unreachable
    val pre = spark.sparkContext.getPersistentRDDs.keySet
    def added = spark.sparkContext.getPersistentRDDs.keySet -- pre
    // hits returns hub.join(auth): its last cut frames are reachable
    // only through the returned plan, never as frame objects
    val h = Graph.hits(Seq((0L, 1L), (1L, 2L), (2L, 0L)).toDF("src", "dst"),
      (0L to 2L).toDF("node"), "src", "dst", iterations = 2)
    assert(h.count() == 3)
    val canary = new java.lang.ref.WeakReference(new Object)
    var tries = 0
    while (canary.get != null && tries < 100) {
      System.gc(); Thread.sleep(20); tries += 1
    }
    assert(canary.get == null, "no GC ran")
    assert(added.nonEmpty)
    Materialize.releaseAll(spark)
    assert(added.isEmpty)
    assert(Materialize.trackedCount == 0)
    assert(h.columns.toSeq == Seq("node", "hub", "authority"))
  }
}
