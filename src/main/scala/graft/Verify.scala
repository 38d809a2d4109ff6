package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name filter (dev harness
    // only — the driver always runs the full registry)
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(',').toSet) else None
    val spark = Harness.session(Harness.cpus)
    new java.io.File(outDir).mkdirs()
    val run = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val failed = Seq.newBuilder[String]
    run.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed += name
      }
      // output is already written at this point
      finally Harness.afterEntry(spark)
    }
    val json = SparkEntry.oracleSql.filter { case (k, _) => run.contains(k) }
      .map { case (k, v) => s"${Harness.json(k)}: ${Harness.json(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    // a fitted entry that threw leaves neither an output dir nor an
    // oracle, so only this exit status reports it
    val thrown = failed.result().sorted
    if (thrown.nonEmpty) {
      System.err.println(
        s"[verify] FAIL ${thrown.size} entries threw: ${thrown.mkString(" ")}")
      sys.exit(1)
    }
  }
}
