package graft

/** Suite-wide interpreted-expression inventory: run every declared
  * query as an [[Observe.entry]],
  * which walks the executed physical plan of EVERY action the entry
  * triggers — including the checkpoint/write-hidden intermediate plans
  * a final-frame explain cannot see (signature materializations, index
  * builds, micro-batch sinks) — and report every expression that mixes
  * in `CodegenFallback`, i.e. runs interpreted per row inside
  * otherwise-codegen stages. Each entry runs into a `noop` sink, which
  * computes every output column (a `count()` lets Catalyst prune each
  * column the row count does not need). Output: one line per query
  * (`name: expr[,expr…]` or `-`), committable as the round's codegen
  * evidence.
  *
  * Cost: about one Verify pass (every entry executes).
  *
  * Usage: `sbt "runMain graft.PlanAudit"` (env: SPARK_GRAFT_SF_DIR,
  * SPARK_GRAFT_CPUS, SPARK_GRAFT_ONLY as in Bench).
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.01")
    val spark = Harness.session(Harness.cpus)
    Harness.entries.foreach { case (name, fn) =>
      val (out, rec) = Observe.entry(spark, name)(
        fn(spark, sfDir).write.format("noop").mode("overwrite").save())
      Harness.afterEntry(spark)
      println(s"[audit] $name: " + out.fold(
        e => s"ERROR ${e.getClass.getSimpleName}",
        _ => if (rec.fallbacks.isEmpty) "-" else rec.fallbacks.mkString(",")))
    }
    spark.stop()
  }
}
