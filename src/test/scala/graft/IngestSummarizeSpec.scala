package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.Text
import graft.operators.{Ingest, Layout, Summarize, Upsert}

/** Ingest entry point (S1/G1/G2), summarize/statement stand-ins
  * (M1/G5/A5), HTML extraction (S3) and physical layout (K6).
  */
class IngestSummarizeSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  test("feedConfig explodes nested source→topic→url map to rows") {
    val rows = Ingest.feedConfig(spark, "/root/repo/fixtures/rss_feeds.json")
      .collect()
    assert(rows.length == 11)
    val bySource = rows.groupBy(_.getString(0)).view.mapValues(_.length).toMap
    assert(bySource == Map("vnexpress" -> 3, "tuoitre" -> 3,
      "thanhnien" -> 3, "dantri" -> 2))
    assert(rows.forall(_.getString(2).startsWith("https://feeds.example.com/")))
  }

  test("explodeEntries caps per-feed fan-out and derives links") {
    val feeds = Seq(("s", "t", "https://u.example.com/f.rss"))
      .toDF("source", "topic", "url")
    val out = Ingest.explodeEntries(feeds, perFeed = 5, cap = 2).collect()
    assert(out.length == 2)
    assert(out.map(_.getAs[String]("link")).toSet ==
      Set("https://u.example.com/f.rss?item=1",
        "https://u.example.com/f.rss?item=2"))
  }

  test("extractive summary round-trips through cleanSummary + bullets") {
    val out = Seq("one two three four five six seven eight nine")
      .toDF("text")
      .select(Text.summaryBullets(Text.cleanSummary(
        Summarize.extractiveSummaryRaw($"text", n = 4, width = 2)))
        .as("b"))
      .head.getSeq[String](0)
    // intro line stripped, bullet glyphs stripped, word pairs preserved
    assert(out == Seq("one two", "three four", "five six", "seven eight"))
  }

  test("statements covers every word exactly once; status rules apply") {
    val df = Seq("the window is open and the stream runs while dup rows wait")
      .toDF("text")
      .select(explode(Summarize.statements(Summarize.words($"text"),
        width = 4)).as("st"))
      .withColumn("status", Summarize.statementStatus($"st"))
    val out = df.collect().map(r => (r.getString(0), r.getString(1)))
    assert(out.length == 3) // 12 words / 4 per statement
    assert(out(0) == ("the window is open", "confirmed"))
    assert(out(1) == ("and the stream runs", "confirmed"))
    assert(out(2) == ("while dup rows wait", "refuted"))
  }

  test("scorecard applies tier short-circuits and clamp") {
    val stmts = (
      Seq.fill(3)((1L, "unverified")) ++              // < 5 → 1.0
      Seq.fill(10)((2L, "confirmed")) ++              // all confirmed → 10
      (Seq.fill(10)((3L, "refuted")) :+ (3L, "unverified")) // → clamp 3
    ).toDF("id", "status")
    val out = Summarize.scorecard(stmts, "id", "status")
      .orderBy("id").collect().map(_.getAs[Double]("score"))
    assert(out.toSeq == Seq(1.0, 10.0, 3.0))
  }

  test("htmlMainText strips chrome tags with bodies, keeps article text") {
    val html = "<html><style>p{}</style><nav>menu</nav><p>Keep <b>this" +
      "</b>.</p><script>drop();</script></html>"
    val out = Seq(html).toDF("h")
      .select(Text.htmlMainText($"h")).head.getString(0)
    assert(out == "Keep this .")
  }

  test("statements/explodeEntries emit ZERO rows on empty inputs " +
    "(sequence(0,-1) descending-range regression)") {
    val st = Seq("", "   ", null.asInstanceOf[String])
      .toDF("text")
      .select(explode(Summarize.statements(Summarize.words($"text"))).as("s"))
    assert(st.count() == 0)
    val feeds = Seq(("s", "t", "u")).toDF("source", "topic", "url")
    assert(Ingest.explodeEntries(feeds, perFeed = 0, cap = 2).count() == 0)
  }

  test("nonBlank, truncateFallback, thresholdGate small-op semantics") {
    // P5: alias constraint
    val p5 = Seq("ok", "  ", "", " x ").toDF("a")
      .filter(Text.nonBlank($"a")).collect().map(_.getString(0))
    assert(p5.toSeq == Seq("ok", " x "))
    // F10: summary falls back to truncated content
    val f10 = Seq((null: String, "0123456789"), ("have", "ignored"))
      .toDF("summary", "content")
      .select(Text.truncateFallback($"summary", $"content", 4))
      .collect().map(_.getString(0))
    assert(f10.toSeq == Seq("0123", "have"))
    // ST6: job gate fires only at the threshold
    val df = (1 to 49).toDF("n")
    assert(!graft.operators.Events.thresholdGate(df, 50))
    assert(graft.operators.Events.thresholdGate(df, 49))
  }

  test("Layout.byKey puts each key in exactly one partition, sorted") {
    val df = (0L until 100L).map(i => (i, s"k${i % 7}")).toDF("id", "k")
    val laid = Layout.byKey(df, "k", 4, "id")
    val parts = laid.withColumn("pid", spark_partition_id())
      .groupBy($"k").agg(countDistinct($"pid").as("n")).collect()
    assert(parts.forall(_.getAs[Long]("n") == 1L))
  }

  test("Layout.zorder: rows preserved; every partition covers a small " +
    "rectangle of BOTH dimensions (the min/max-skipping property)") {
    // a 64×64 grid, shuffled arrival order
    val rnd = new scala.util.Random(3)
    val grid = rnd.shuffle((0 until 64).flatMap(x =>
      (0 until 64).map(y => (x.toLong, y.toLong)))).toDF("x", "y")
    val laid = Layout.zorder(grid, "x", "y", n = 16, bits = 6)
    // lossless
    assert(laid.count() == 4096)
    assert(laid.exceptAll(grid).count() == 0)
    // per-partition spans: z-order keeps each of the 16 partitions
    // inside a small (x, y) rectangle — a single-column sort would
    // leave the OTHER column's span at ~full range
    val spans = laid.withColumn("pid", spark_partition_id())
      .groupBy($"pid").agg(
        (max($"x") - min($"x")).as("xs"), (max($"y") - min($"y")).as("ys"))
      .collect()
    assert(spans.length > 4) // actually spread over multiple partitions
    val avgX = spans.map(_.getAs[Long]("xs")).sum.toDouble / spans.length
    val avgY = spans.map(_.getAs[Long]("ys")).sum.toDouble / spans.length
    assert(avgX < 32, s"avg x-span $avgX not contracted (range 63)")
    assert(avgY < 32, s"avg y-span $avgY not contracted (range 63)")
  }

  test("Layout.compact merges an accreted small-file table, " +
    "row-identical, atomically swapped") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-compact")
    val dir = tmp.resolve("tbl").toString
    // simulate 12 incremental appends — 12 tiny files
    (0 until 12).foreach { i =>
      (i * 100 until (i + 1) * 100).map(j => (j.toLong, s"row$j"))
        .toDF("id", "v").coalesce(1)
        .write.mode("append").parquet(dir)
    }
    val beforeRows = spark.read.parquet(dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val (nBefore, nAfter) = Layout.compact(spark, dir, targetBytes = 1L << 20)
    assert(nBefore >= 12 && nAfter < nBefore,
      s"expected fewer files, got $nBefore -> $nAfter")
    val afterRows = spark.read.parquet(dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(afterRows == beforeRows)
    // no stray staging dirs left behind
    assert(!new java.io.File(dir + ".__compact").exists())
    assert(!new java.io.File(dir + "__old").exists())
  }

  test("Layout.compact on a key-hash-partitioned table: per-bucket " +
    "rewrite, marker preserved, quiet buckets untouched") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-compact-p")
    val dir = tmp.resolve("ptbl").toString
    // one file per bucket dir (coalesce(1)) so the quiet buckets sit
    // at ≤ minFiles and the untouched-bytes assertion below is exact
    val base = (0 until 400).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .coalesce(1)
    Upsert.writePartitionedTable(base, dir, Seq("id"), numBuckets = 4)
    // accrete small files into ONE bucket (the streaming-append shape)
    val busy = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("graft_bucket="))
      .map(_.getName).sorted.head
    (0 until 8).foreach { i =>
      Seq((100000L + i, s"x$i")).toDF("id", "v").coalesce(1)
        .write.mode("append").parquet(s"$dir/$busy")
    }
    def files(b: String) = new java.io.File(s"$dir/$b").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    val quiet = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("graft_bucket="))
      .map(_.getName).sorted.filterNot(_ == busy)
    val quietBefore = quiet.map(b => b -> files(b)).toMap
    val beforeRows = spark.read.parquet(dir).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("v"))).toSet
    val (nb, na) = Layout.compact(spark, dir, targetBytes = 1L << 20)
    assert(na < nb, s"expected fewer files in the busy bucket: $nb -> $na")
    val afterRows = spark.read.parquet(dir).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("v"))).toSet
    assert(afterRows == beforeRows)
    assert(files(busy).size < 9)
    // quiet buckets: same files, byte-for-byte untouched (not rewritten)
    quiet.foreach(b => assert(files(b) == quietBefore(b), s"bucket $b"))
    // layout marker survives; later merges still see the bucket count
    assert(new java.io.File(dir, "_graft_buckets").exists())
    // no staging debris inside or beside the table root
    assert(!new java.io.File(dir + "__tmp").exists())
    assert(!new java.io.File(dir + "__old").exists())
    assert(new java.io.File(dir).listFiles()
      .forall(f => !f.getName.contains("__")))
  }

  test("Layout.compact restores a crashed swap before compacting") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-compact-c")
    val dir = tmp.resolve("tbl").toString
    (0 until 3).foreach { i =>
      Seq((i.toLong, s"r$i")).toDF("id", "v").coalesce(1)
        .write.mode("append").parquet(dir)
    }
    val rows = spark.read.parquet(dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    // crash window: live dir parked at __old, never swapped back
    assert(new java.io.File(dir).renameTo(new java.io.File(dir + "__old")))
    val (nb, na) = Layout.compact(spark, dir, targetBytes = 1L << 20)
    assert(nb == 3 && na == 1, s"$nb -> $na")
    val after = spark.read.parquet(dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(after == rows)
  }
}
