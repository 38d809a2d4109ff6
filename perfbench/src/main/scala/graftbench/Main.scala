package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: set up a workload, run its passes for a
  * fixed measuring time, and write every timing, check and (when traced)
  * span to a JSON file that `perfbench/run.py` turns into metrics.
  *
  * Usage: Main --workload pipeline|serve --data DIR --work DIR
  *             --seed N --seconds S --trace 0|1 --out FILE
  *             [--inject fail|wrong]
  *
  * `--inject` makes one operation of the first warm pass throw (`fail`)
  * or return a corrupted result (`wrong`); the self-tests use it to show
  * that failures and wrong results are counted, never timed.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = opt("work")
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = Runtime.getRuntime.availableProcessors
    def session(): SparkSession = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    // session start is set up three times: JVM start to the first live
    // session (class loading included), then two stop-and-restarts;
    // run.py takes the median
    var spark = session()
    val sessionS = ((System.currentTimeMillis() - jvmStart) / 1000.0) +:
      (0 until 2).map { _ =>
        spark.stop()
        val t0 = System.nanoTime()
        spark = session()
        (System.nanoTime() - t0) / 1e9
      }
    spark.sparkContext.setLogLevel("ERROR")

    val rec = new Recorder(spark, traced, opt.get("inject"))
    val wl: Workload = workload match {
      case "pipeline" => new Entries(spark, opt("data"), work, Pipeline.entries)
      case "serve" => new Serve(spark, opt("data"), work, opt("seed").toLong)
      case other => sys.error(s"unknown workload $other")
    }
    val setupS = (0 until wl.setupReps).map { r =>
      val t0 = System.nanoTime()
      wl.setup(r)
      (System.nanoTime() - t0) / 1e9
    }
    rec.startRun()
    // the cold pass, then warm passes for the measuring time; at least
    // two, so every run holds a warm median. Every pass does the same
    // work, so the number of passes never changes what a pass measures
    rec.pass(0) { wl.pass(0, rec) }
    val warmStart = System.nanoTime()
    var pass = 1
    while (pass <= 2 ||
        (System.nanoTime() - warmStart) / 1e9 < seconds) {
      rec.pass(pass) { wl.pass(pass, rec) }
      pass += 1
    }
    rec.stopRun()
    // retained heap: after the run, outside every timed region
    val mem = ManagementFactory.getMemoryMXBean
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(100) }
    val heapMb = mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)

    val out = Json.merge(Json.obj(
      "workload" -> Json.str(workload),
      "cores" -> Json.num(cores),
      "session_s" -> Json.arr(sessionS.map(Json.num)),
      "setup_s" -> Json.arr(setupS.map(Json.num)),
      "retained_heap_mb" -> Json.num(heapMb),
      "oracle_sql" -> Json.obj(wl.oracleSql.toSeq.map { case (k, v) =>
        k -> Json.str(v) }: _*),
      "recall" -> Json.obj(wl.recall.toSeq.map { case (k, v) =>
        k -> Json.num(v) }: _*)), rec.toJson)
    Files.writeString(Paths.get(opt("out")), out)
    spark.stop()
  }
}

/** A workload: set-up that may repeat, and a pass of timed operations. */
trait Workload {
  def setupReps: Int
  def setup(rep: Int): Unit
  def pass(p: Int, rec: Recorder): Unit
  /** DuckDB oracle SQL per entry, for the checks run after the JVM. */
  def oracleSql: Map[String, String] = Map.empty
  /** recall@k per approximate index, over the whole run. */
  def recall: Map[String, Double] = Map.empty
}

/** Shared clean-up after an entry (the engine's own bench does the
  * same): drop frames the entry materialized, its temp dirs, and the
  * state-store providers a streaming entry loaded. */
object Hygiene {
  def afterEntry(spark: SparkSession, streaming: Boolean): Unit = {
    try graft.operators.Materialize.releaseAll(spark)
    catch { case _: Throwable => () }
    try graft.TempDirs.cleanAll() catch { case _: Throwable => () }
    if (streaming) {
      try {
        val cls = Class.forName(
          "org.apache.spark.sql.execution.streaming.state.StateStore$")
        cls.getMethod("unloadAll").invoke(cls.getField("MODULE$").get(null))
      } catch { case _: Throwable => () }
    }
  }
}
