package graft

import org.scalatest.funsuite.AnyFunSuite
import com.fasterxml.jackson.databind.ObjectMapper
import graft.operators.Materialize

/** The shared harness core: JSON escape, post-entry cleanup, session
  * factory config, and the listener layer (`Observe`) entries run on.
  */
class HarnessSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark

  test("json escapes quote, backslash and every control char and " +
    "round-trips through a JSON parser") {
    val raw = "a\"b\\c\nd\re\tf\u0000g\u0001h\u001fi\u0008j\u000ck Ấm\u007f"
    val out = Harness.json(raw)
    assert(out ==
      "\"a\\\"b\\\\c\\nd\\re\\tf\\u0000g\\u0001h\\u001fi\\u0008j\\u000ck Ấm\u007f\"")
    assert(!out.exists(_ < ' '))
    assert(new ObjectMapper().readValue(out, classOf[String]) == raw)
    assert(Harness.json("") == "\"\"")
  }

  test("afterEntry releases iterCut frames, restores the persisted-RDD " +
    "set and deletes every TempDirs dir") {
    import spark.implicits._
    Harness.afterEntry(spark)
    // compared as id sets: a GC may drop RDDs earlier suites left
    // unreachable at any point, which a size comparison misreads
    val pre = spark.sparkContext.getPersistentRDDs.keySet
    def added = spark.sparkContext.getPersistentRDDs.keySet -- pre
    val df = Materialize.iterCut(Seq(1, 2, 3).toDF("x"))
    assert(df.count() == 3)
    val dirs = Seq(TempDirs.create("harness-a"), TempDirs.create("harness-b"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dirs.head, "f.txt"), "x")
    assert(Materialize.trackedCount >= 1)
    assert(added.nonEmpty)
    Harness.afterEntry(spark)
    assert(Materialize.trackedCount == 0)
    assert(added.isEmpty)
    dirs.foreach(d => assert(!new java.io.File(d).exists(), d))
  }

  test("SharedSpark carries the session factory's config") {
    val conf = spark.conf
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.sparkContext.appName == "graft-test")
    val c = spark.sql(
      "SELECT graft_cosine(array(1.0F, 0.0F), array(1.0F, 0.0F)) AS c")
      .head.getDouble(0)
    assert(math.abs(c - 1.0) < 1e-12)
  }

  test("Observe.entry records each micro-batch of a stream it runs; " +
    "the next entry gets no batch phases") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[Int]
    val (a, recA) = Observe.entry(spark, "a") {
      stream.addData(1, 2)
      val q = stream.toDF().writeStream.format("memory")
        .queryName("observe_batches").start()
      try {
        q.processAllAvailable()
        stream.addData(3)
        q.processAllAvailable()
      } finally q.stop()
    }
    assert(a.isRight, a)
    val labels = recA.phases.map(_._1)
    assert(Set("batch0", "batch1").subsetOf(labels.toSet), labels)
    val (b, recB) = Observe.entry(spark, "b")(spark.range(10).count())
    assert(b == Right(10L))
    assert(!recB.phases.exists(_._1.startsWith("batch")), recB.phases)
  }

  test("Observe.time records only inside an entry") {
    assert(Observe.time("outside")(41 + 1) == 42)
    val (out, rec) = Observe.entry(spark, "t")(Observe.time("inside")(7))
    assert(out == Right(7))
    assert(rec.phases.map(_._1) == Seq("inside"))
    assert(Observe.time("after")("x") == "x")
    val (_, next) = Observe.entry(spark, "u")(())
    assert(next.phases.isEmpty, next.phases)
  }

  test("Observe.entry names the interpreted expressions its plans run " +
    "and returns the body's failure") {
    import org.apache.spark.sql.functions.expr
    val (out, rec) = Observe.entry(spark, "f")(spark.range(3)
      .select(expr("transform(array(1, 2), x -> x + 1)")).collect())
    assert(out.isRight)
    assert(rec.fallbacks.contains("transform"), rec.fallbacks)
    val (bad, _) = Observe.entry(spark, "g")(
      spark.read.parquet("/nonexistent-observe-input").count())
    assert(bad.isLeft)
  }

  test("Observe.entry walks adaptive plans: a fallback above an " +
    "exchange is named") {
    import org.apache.spark.sql.functions.{col, collect_list, expr}
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val (out, rec) = Observe.entry(spark, "aqe")(spark.range(100)
      .groupBy((col("id") % 3).as("k")).agg(collect_list(col("id")).as("ids"))
      .select(expr("transform(ids, x -> x + 1)")).collect())
    assert(out.isRight)
    assert(rec.fallbacks.contains("transform"), rec.fallbacks)
  }
}
