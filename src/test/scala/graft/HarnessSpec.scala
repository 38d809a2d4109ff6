package graft

import org.scalatest.funsuite.AnyFunSuite
import com.fasterxml.jackson.databind.ObjectMapper
import graft.operators.Materialize

/** The shared harness core: JSON escape, post-entry cleanup, session
  * factory config.
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
}
