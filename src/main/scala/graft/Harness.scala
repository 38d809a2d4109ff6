package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The core every in-repo harness runs on — Bench, Verify, Dev,
  * PlanAudit and the test suites' `SharedSpark`: one session factory,
  * one entry list, one post-entry cleanup and one JSON string escape,
  * so their configs and hygiene cannot drift apart.
  */
object Harness {
  type Entry = (SparkSession, String) => DataFrame

  /** `SPARK_GRAFT_CPUS`, else every processor this JVM sees. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS")
    .fold(Runtime.getRuntime.availableProcessors)(_.trim.toInt)

  /** The engine session: `local[cpus]` with `cpus` shuffle partitions,
    * no UI, UTC, the graft extensions, and nanosecond parquet
    * timestamps read as longs (events.parquet carries INT64
    * TIMESTAMP(NANOS); `Queries.t` converts — Spark has no nanos type).
    * `conf` adds caller-specific settings (app name, warehouse dir).
    */
  def session(cpus: Int, conf: (String, String)*): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config(conf.toMap)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `SPARK_GRAFT_ONLY=q26,q48`: the comma-separated name prefixes a
    * dev run is restricted to (unset = every entry).
    */
  val only: Option[Seq[String]] = sys.env.get("SPARK_GRAFT_ONLY")
    .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)

  def selected(name: String): Boolean =
    only.forall(_.exists(name.startsWith))

  /** Every query and bench-only entry in name order (so residual
    * warmup always lands on the first entry and per-entry numbers stay
    * comparable across runs), restricted by [[only]].
    */
  def entries: Seq[(String, Entry)] =
    (SparkEntry.queries.toSeq ++ SparkEntry.benchOnly.toSeq)
      .sortBy(_._1).filter(p => selected(p._1))

  /** Post-entry hygiene, on every path, once the entry's result has
    * been consumed: release stranded `iterCut` frames, delete the
    * entry's temp dirs (persisted indexes, checkpoints, state stores)
    * and unload cached state-store providers, so no entry rides as
    * block-manager, disk or state pressure into the next. Best-effort:
    * cleanup never fails a run.
    */
  def afterEntry(spark: SparkSession): Unit = {
    try graft.operators.Materialize.releaseAll(spark)
    catch { case NonFatal(_) => () }
    try TempDirs.cleanAll() catch { case NonFatal(_) => () }
    // StateStore.unloadAll() drops the provider cache (loaded
    // HDFSBackedStateStoreProvider maps stay keyed per checkpoint
    // otherwise — dead weight once the checkpoint dir is deleted).
    // private[sql], so reached reflectively.
    try {
      val cls = Class.forName(
        "org.apache.spark.sql.execution.streaming.state.StateStore$")
      cls.getMethod("unloadAll").invoke(cls.getField("MODULE$").get(null))
    } catch { case NonFatal(_) => () }
  }

  /** `s` as a quoted JSON string: quote, backslash and every control
    * character below 0x20 escaped — a tab or CR left raw would make a
    * JSON reader reject the whole document.
    */
  def json(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
