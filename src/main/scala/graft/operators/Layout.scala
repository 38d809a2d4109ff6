package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.Path

/** Physical-layout operators (K6): the engine-side equivalent of the
  * reference's Qdrant payload keyword indexes on topic_id/url
  * (embedded_articles.py:203-212). Clustering rows by key and sorting
  * within partitions gives parquet min/max row-group skipping on that
  * key — the scan-side index a shared-nothing engine actually uses.
  */
object Layout {

  /** Cluster by `keyCol` into `n` partitions, sorted within partitions
    * by (key, sortCols…). Every key lands in exactly one partition.
    */
  def byKey(df: DataFrame, keyCol: String, n: Int,
            sortCols: String*): DataFrame =
    df.repartition(n, col(keyCol))
      .sortWithinPartitions((keyCol +: sortCols).map(col): _*)

  /** Z-order (Morton) clustering over TWO numeric columns — [[byKey]]
    * clusters one key; a query mix filtering on either of two columns
    * needs both clustered at once. Each column is linearly binned into
    * 2^`bits` buckets between its min and max (computed as a 1-row
    * aggregate broadcast into the scan — no driver round-trip), the
    * bin indices are bit-interleaved into a Morton code, and rows are
    * range-partitioned + sorted by it. Every output file then covers a
    * small rectangle of (A, B) space, so parquet min/max row-group /
    * file skipping works for predicates on A, on B, or both — the
    * standard lakehouse multi-dimensional clustering (cf. the
    * z-ordering literature: Morton 1966; Delta/Iceberg OPTIMIZE
    * ZORDER). LayoutSpec asserts the per-file span contraction that
    * skipping relies on.
    */
  def zorder(df: DataFrame, colA: String, colB: String, n: Int,
             bits: Int = 8): DataFrame = {
    require(bits >= 1 && bits <= 16, s"bits must be in [1,16], got $bits")
    val stats = df.agg(
      min(col(colA)).cast("double").as("__amin"),
      max(col(colA)).cast("double").as("__amax"),
      min(col(colB)).cast("double").as("__bmin"),
      max(col(colB)).cast("double").as("__bmax"))
    val maxBin = (1 << bits) - 1
    // bins are LONG: at bits=16 the interleaved b-bit for i=15 lands
    // on position 31 — the sign bit of an int — which would corrupt
    // the sort order. Nulls bin explicitly to 0 (least() would
    // otherwise skip the null and silently place them at maxBin).
    def bin(c: Column, lo: Column, hi: Column): Column =
      when(c.isNull, lit(0L))
        .when(hi > lo,
          least(lit(maxBin.toLong),
            floor((c.cast("double") - lo) / (hi - lo) * (maxBin + 1))
              .cast("long")))
        .otherwise(0L)
    // each bin repeats `bits` times with no lambda between the copies:
    // codegen's subexpression elimination evaluates it once
    def interleave(a: Column, b: Column): Column =
      (0 until bits).map { i =>
        shiftleft(shiftright(a, i).bitwiseAND(1), 2 * i)
          .bitwiseOR(shiftleft(shiftright(b, i).bitwiseAND(1), 2 * i + 1))
      }.reduce((x, y) => x.bitwiseOR(y))
    df.crossJoin(broadcast(stats))
      .withColumn("__z", interleave(
        bin(col(colA), col("__amin"), col("__amax")),
        bin(col(colB), col("__bmin"), col("__bmax"))))
      .drop("__amin", "__amax", "__bmin", "__bmax")
      .repartitionByRange(n, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
  }

  /** Small-file compaction — the operational half of K6/K7: streaming
    * and incremental sinks (q80's index appends, Streams' per-batch
    * files) accrete many small files, and at 100 TB the scan cost is
    * dominated by per-file open/footer overhead long before bytes.
    * Rewrites a parquet table dir into ≈`targetBytes`-sized files
    * (sized from the CURRENT on-disk footprint — metadata only, no
    * data read), atomically per rewritten dir: write to a staging
    * sibling, swap via rename, drop the backup only after the swap
    * (the [[Staging]] protocol). Content is preserved row-for-row;
    * only the file layout changes.
    *
    * Runs through the Hadoop FileSystem API resolved FROM the path, so
    * it works on local, HDFS, and any Hadoop-compatible FS (object
    * stores without atomic rename should route through their table
    * format's OPTIMIZE instead).
    *
    * Key-hash-partitioned tables ([[Upsert.writePartitionedTable]]'s
    * `graft_bucket=<b>` layout — exactly the tables whose per-bucket
    * merges and streaming appends accrete small files fastest) are
    * compacted PER BUCKET DIRECTORY: each bucket swaps independently
    * (staged under `<dir>__tmp`/`<dir>__old` siblings of the TABLE
    * root, never inside it, where partition discovery would parse a
    * leftover `graft_bucket=5.__old` as a partition value), the
    * `_graft_buckets` layout marker is untouched, and buckets already
    * at ≤ `minFiles` files are skipped — so steady-state compaction
    * cost tracks the churned fraction of the table, not its size.
    *
    * Returns (filesBefore, filesAfter) over the rewritten dirs.
    */
  def compact(spark: org.apache.spark.sql.SparkSession, dir: String,
              targetBytes: Long = 128L * 1024 * 1024,
              minFiles: Int = 2): (Int, Int) = {
    val fs = Staging.fsOf(spark, dir)
    val root = new Path(dir)
    // crash recovery before anything else: a missing live dir (flat
    // case) or missing bucket dir (partitioned case) with a surviving
    // backup is restored, never treated as absent
    Staging.restoreIfCrashed(fs, dir)
    Staging.restoreBucketsIfCrashed(fs, dir, Upsert.bucketCol)
    Staging.vacuum(spark, dir)
    val bucketDirs = fs.listStatus(root)
      .filter(s => s.isDirectory &&
        s.getPath.getName.startsWith(Upsert.bucketCol + "="))
      .map(_.getPath).sortBy(_.getName)
    if (bucketDirs.isEmpty) compactDir(spark, fs, root, root, targetBytes)
    else {
      val tmpRoot = new Path(dir + "__tmp")
      val bakRoot = new Path(dir + "__old")
      fs.mkdirs(tmpRoot); fs.mkdirs(bakRoot)
      var ok = false
      try {
        val r = bucketDirs.map { b =>
          val n = fs.listStatus(b)
            .count(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
          if (n <= minFiles) (n, n)
          else compactDir(spark, fs, b, new Path(tmpRoot, b.getName),
            targetBytes, new Path(bakRoot, b.getName))
        }.foldLeft((0, 0)) { case ((a, b), (c, d)) => (a + c, b + d) }
        ok = true
        r
      } finally {
        fs.delete(tmpRoot, true)
        // on failure the backup root MUST survive: if a bucket's
        // rollback rename also failed, its only copy lives there and
        // the next compact/merge restores it (restoreBucketsIfCrashed)
        if (ok) fs.delete(bakRoot, true)
        ()
      }
    }
  }

  /** Compact ONE flat parquet dir via tmp→swap→backup. `stage` is
    * where the compacted copy is written, `bak` where the old dir is
    * parked during the swap (defaults = `.__compact` / `__old`
    * siblings of the dir itself — overridden for bucket dirs, whose
    * staging must live OUTSIDE the partitioned table root).
    */
  private def compactDir(spark: org.apache.spark.sql.SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, dir: Path, stageAt: Path,
      targetBytes: Long, bakAt: Path = null): (Int, Int) = {
    def parquetFiles(p: Path) = fs.listStatus(p)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    val before = parquetFiles(dir)
    val totalBytes = before.map(_.getLen).sum
    val n = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    val tmp = if (stageAt == dir) new Path(dir.toString + ".__compact")
              else stageAt
    val bak = Option(bakAt).getOrElse(new Path(dir.toString + "__old"))
    spark.read.parquet(dir.toString).repartition(n)
      .write.mode("overwrite").parquet(tmp.toString)
    if (fs.exists(bak)) fs.delete(bak, true)
    Staging.mustRename(fs, dir, bak)
    try Staging.mustRename(fs, tmp, dir)
    catch { case e: Throwable =>       // roll back, table untouched
      Staging.mustRename(fs, bak, dir)
      throw e
    }
    fs.delete(bak, true)
    (before.length, parquetFiles(dir).length)
  }
}
