package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Bucketed co-located joins — the shuffle-removal layout the Upsert
  * scaladoc promises for 100 TB MERGEs: when base and delta share the
  * key bucketing, the join needs no Exchange at all.
  */
class BucketingSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  test("joining two tables bucketed on the key plans no shuffle " +
    "Exchange; the unbucketed join does") {
    val left = (0L until 1000L).map(i => (i, s"payload$i")).toDF("k", "lv")
    val right = (0L until 1000L).map(i => (i, i * 2.0)).toDF("k", "rv")
    left.write.mode("overwrite").bucketBy(8, "k").sortBy("k")
      .saveAsTable("bkt_left")
    right.write.mode("overwrite").bucketBy(8, "k").sortBy("k")
      .saveAsTable("bkt_right")
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      val bucketed = spark.table("bkt_left")
        .join(spark.table("bkt_right"), "k")
      assert(!bucketed.queryExecution.executedPlan.toString
        .contains("Exchange"),
        "bucketed join must be co-located (no Exchange)")
      // measured, not just planned: the co-located join moves no data
      // rows — only count()'s per-task partial-count rows (~0.5 KB);
      // the same join unbucketed shuffles both input relations
      import SharedSpark.bytes
      val db = bytes(assert(bucketed.count() == 1000))
      assert(db.write < 4096, s"bucketed join shuffled data: $db")

      val plain = left.join(right, "k")
      assert(plain.queryExecution.executedPlan.toString.contains("Exchange"))
      val dp = bytes(assert(plain.count() == 1000))
      assert(dp.write > db.write * 10,
        s"unbucketed join should shuffle the relations: $dp vs $db")
    }
  }

  private def withConf(kvs: (String, String)*)(body: => Unit): Unit = {
    val old = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
