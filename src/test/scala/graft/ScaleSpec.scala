package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dedup

/** MEASURED scale guards: SCALE.md argues the dedup plans shuffle
  * signatures, never text — these tests pin that with task-metric
  * byte counts (plan shape alone can look right and still move 10×
  * the bytes).
  */
class ScaleSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._
  import SharedSpark.bytes

  test("shuffle tally counts bytes for a shuffling job and stays flat " +
    "for a map-only one") {
    val afterShuffle = bytes(
      spark.range(100000).selectExpr("id % 97 AS k", "id AS v")
        .repartition(4).groupBy("k").count().count())
    assert(afterShuffle.write > 0 && afterShuffle.read > 0)
    val mapOnly = bytes(spark.range(100000).selectExpr("id + 1 AS v").count())
    // count() ships one partial-count row per partition — a few
    // hundred bytes, not a data shuffle
    assert(mapOnly.write < 4096, s"map-only job wrote shuffle: $mapOnly")
  }

  test("minhash candidate shuffle volume tracks SIGNATURE size, not " +
    "text size: 4x the text moves <2x the bytes") {
    // distinct-vocab docs (no near-dup pairs) in a LOCAL relation —
    // no repartition, so the only exchanges measured are the
    // operator's own; rep scales each doc's text length only
    def mkDocs(rep: Int) = (0 until 200).map { i =>
      val rnd = new scala.util.Random(i)
      val words = Seq.fill(30 * rep)("w" + rnd.nextInt(1000000))
      (i.toLong, words.mkString(" "))
    }.toDF("doc_id", "text")
    def shuffled(rep: Int): Long =
      bytes {
        Dedup.minhashCandidates(mkDocs(rep), "text", "doc_id").count()
      }.write
    // signatures are computed map-side (no shuffle); the band-key
    // self-join is the operator's shuffle at corpus scale, so forbid
    // the broadcast this 200-doc fixture would otherwise get
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val old = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(spark.conf.set(_, "-1"))
    val (small, large) =
      try (shuffled(1), shuffled(4))
      finally old.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    assert(small > 0, "expected the band-key self-join to shuffle")
    // the join ships (id, band, band_hash) rows: fixed-width hashes of
    // the signature, constant in text length
    assert(large < small * 2,
      s"shuffle bytes scaled with text size: $small -> $large")
  }

  test("substring-dedup shuffle volume tracks token COUNT, not token " +
    "size: 4x the characters per token moves ~the same bytes") {
    // fixed 40 tokens per doc, distinct vocab (no duplicate sites);
    // rep scales only each token's CHARACTER length — fixed-width
    // 12·rep chars per token, so rep=4 is a true 4x — while the
    // shuffle carries (fp, doc, pos) rows whose width is hash-fixed,
    // so the bytes moved must not follow the text size
    def mkDocs(rep: Int) = (0 until 200).map { i =>
      val rnd = new scala.util.Random(i)
      val pad = "x" * (12 * rep - 6)
      val words = Seq.fill(40)(pad + "%06d".format(rnd.nextInt(1000000)))
      (i.toLong, words.mkString(" "))
    }.toDF("doc_id", "text")
    def shuffled(rep: Int): Long =
      bytes {
        Dedup.duplicateSpans(mkDocs(rep), "doc_id", "text", k = 6)
          .count()
      }.write
    val small = shuffled(1)
    val large = shuffled(4)
    assert(small > 0, "expected the fingerprint window to shuffle")
    assert(large < small * 3 / 2,
      s"shuffle bytes scaled with token size: $small -> $large")
  }

  test("hnsw resident serve: after prepare+cache, a query batch moves " +
    "candidate-sized shuffle bytes — the index is never re-exchanged") {
    import graft.operators.Hnsw
    val rnd = new scala.util.Random(23)
    // a LOCAL relation (no source repartition) so the only exchanges
    // measured are the operator's own
    val corpus = (0 until 2000).map(i =>
      (i.toLong, Array.fill(64)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val queries = (0 until 20).map(i =>
      (10000L + i, Array.fill(64)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val prepared = Hnsw.prepare(Hnsw.buildShards(corpus, "vec_id",
      "embedding", shards = 4)).cache()
    prepared.count() // materialize: build + co-location paid HERE
    val batch1 = bytes(Hnsw.topKResident(prepared, queries, "vec_id",
      "embedding", k = 10, ef = 128).count()).write
    val batch2 = bytes(Hnsw.topKResident(prepared, queries, "vec_id",
      "embedding", k = 10, ef = 128).count()).write
    // corpus ≈ 2000 rows × (64 dims × 8 B + links) ≈ 1.3+ MB; a
    // served batch shuffles only the queries × shards × k candidate
    // rows into the merge window — two orders of magnitude smaller
    val cap = 100 * 1024L
    assert(batch1 < cap, s"batch 1 re-exchanged the index: $batch1 B")
    assert(batch2 < cap, s"batch 2 re-exchanged the index: $batch2 B")
  }

  test("robots admission shuffle volume tracks URL count, not " +
    "rule-match count: 8x the rules per site moves <2x the bytes " +
    "(the packed-long max combines map-side)") {
    import graft.operators.Robots
    // every rule matches every path, so the url×rule multiplication
    // is real; a verdict that shipped matched rows would scale ~8x
    def mkRules(nPerSite: Int) = (0 until 4).flatMap { s =>
      (0 until nPerSite).map { r =>
        // every pattern is a prefix of every path → every rule MATCHES
        (s.toLong, r % 2 == 0, "/p/path-".take(2 + r % 6))
      }
    }.toDF("site", "allow", "pattern")
    val urls = (0 until 2000).map { i =>
      (i.toLong, (i % 4).toLong, s"/p/path-$i")
    }.toDF("uid", "site", "path")
    def shuffled(nPerSite: Int): Long =
      bytes {
        Robots.isAllowed(urls, mkRules(nPerSite), "site", "path")
          .count()
      }.write
    val small = shuffled(2)
    val large = shuffled(16)
    assert(small > 0, "expected the verdict aggregation to shuffle")
    assert(large < small * 2,
      s"shuffle bytes scaled with rule count: $small -> $large")
  }

  test("pruned dedup-index probe reads a FRACTION of the index: the " +
    "pushed In(band_hash) over the byKey layout skips row groups — " +
    "the scan surfaces delta-bucket-sized rows, not the index") {
    import graft.operators.Layout
    import org.apache.spark.sql.functions.{col, expr}
    val dir = java.nio.file.Files
      .createTempDirectory("graft-bandidx-scale").toString
    // synthetic 100k-doc corpus signatures (32 hashes each) and a
    // 1-doc delta that is an exact re-key of a corpus doc — the batch
    // key count (8 bands) must be ≪ the row-group count for min/max
    // skipping to have anything to skip, which is exactly the 100 TB
    // regime (a micro-batch's keys vs millions of row groups)
    val mkSig = expr("transform(sequence(0, 31), s -> xxhash64(id, s))")
    val idxSigs = spark.range(100000).select(col("id"), mkSig.as("sig"))
    val deltaSigs = spark.range(1).select(col("id"), mkSig.as("sig"))
      .select((col("id") + 1000000L).as("id"), col("sig"))
    // the persisted form: pre-banded buckets, band_hash-clustered,
    // small row groups so skipping has units to skip (the old
    // signature-row layout surfaced every row per batch by
    // construction — nothing about band_hash exists at that scan)
    Layout.byKey(Dedup.bandBuckets(idxSigs), "band_hash", 4)
      .write.option("parquet.block.size", 32 * 1024)
      .mode("overwrite").parquet(s"$dir/idx")
    val nIndexRows = 100000L * 8
    // evidence metric: rows the parquet reader SURFACES (the scan
    // node's numOutputRows) — a skipped row group's rows never
    // surface, so this counts exactly what the pushed filter saved.
    // (Task input-byte metrics are unreliable for local vectored IO —
    // they report footer-sized reads for full scans here.)
    def scanSurfaced(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect() // collect() executes df's OWN queryExecution — a
                   // count() would run a separate plan instance and
                   // leave these metrics untouched
      def leaves(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
        p match {
          case a: org.apache.spark.sql.execution.adaptive
              .AdaptiveSparkPlanExec => leaves(a.executedPlan)
          case q: org.apache.spark.sql.execution.adaptive
              .QueryStageExec => leaves(q.plan)
          case r: org.apache.spark.sql.execution.exchange
              .ReusedExchangeExec => leaves(r.child)
          case s: org.apache.spark.sql.execution.FileSourceScanExec =>
            Seq(s)
          case other => other.children.flatMap(leaves) ++
            other.subqueries.flatMap(leaves)
        }
      leaves(df.queryExecution.executedPlan)
        .map(_.metrics("numOutputRows").value).sum
    }
    val pruned = Dedup.incrementalCandidatesPruned(
      spark.read.parquet(s"$dir/idx"), Dedup.bandBuckets(deltaSigs))
    assert(pruned.count() >= 1L, "the planted re-key must collide")
    val surfaced = scanSurfaced(pruned)
    assert(surfaced > 0, "index scan surfaced nothing?")
    assert(surfaced < nIndexRows / 4,
      s"pushed In() did not skip: scan surfaced $surfaced of " +
        s"$nIndexRows index rows")
    // control: the same scan WITHOUT the pushed keys surfaces it all
    val full = scanSurfaced(spark.read.parquet(s"$dir/idx"))
    assert(full == nIndexRows, s"control scan surfaced $full")
  }

  test("streaming frontier seen-probe shuffle is BATCH-sized, not " +
    "index-sized: 8x the crawl history moves ~zero extra bytes " +
    "(inverted probe — the history is never exchanged)") {
    import graft.streaming.Streams
    def mkSeen(n: Int, dir: String): Unit =
      spark.range(n.toLong)
        .selectExpr("concat('http://s/', id) AS canon")
        .write.mode("overwrite").parquet(dir)
    val firstHere = (0 until 200)
      .map(i => (i.toLong, s"http://s/${i * 500}"))
      .toDF("doc_id", "canon")
    def shuffled(nSeen: Int): Long = {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-frontier-scale").toString
      mkSeen(nSeen, s"$dir/seen")
      bytes {
        Streams.frontierFresh(firstHere,
          spark.read.parquet(s"$dir/seen")).count()
      }.write
    }
    val small = shuffled(25000)
    val large = shuffled(200000)
    // both joins are broadcast (bloom build ships one bitset row;
    // broadcasts are not shuffle) — bytes must be near-zero and
    // FLAT in history size. 64 KB tolerates partial-agg rows.
    val cap = 64 * 1024L
    assert(small <= cap, s"probe shuffled at 25k history: $small B")
    assert(large <= cap, s"probe shuffled at 200k history: $large B")
  }
}
