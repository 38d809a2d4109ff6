package graft

/** Dev harness: time (and optionally explain) individual queries.
  * Usage: runMain graft.Dev q25_minhash_lsh q26_simhash
  * Env: SPARK_GRAFT_SF_DIR (default sf0.01), GRAFT_EXPLAIN=1 to dump the
  * formatted physical plan before running.
  */
object Dev {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Harness.session(Harness.cpus)
    args.foreach { name =>
      val df = graft.queries.Queries.byName(name).plan(spark, sfDir)
      if (sys.env.contains("GRAFT_EXPLAIN")) df.explain("formatted")
      val t0 = System.nanoTime()
      val n = sys.env.get("GRAFT_DUMP") match {
        case Some(dir) =>
          df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name")
          spark.read.parquet(s"$dir/$name").count()
        case None => df.count()
      }
      println(f"[dev] $name: $n rows, ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
