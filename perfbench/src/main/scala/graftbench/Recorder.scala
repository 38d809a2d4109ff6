package graftbench

import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Minimal JSON writer: values are pre-rendered strings. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def num(l: Long): String = l.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  /** Concatenate the members of two rendered objects. */
  def merge(a: String, b: String): String =
    if (b == "{}") a else a.stripSuffix("}") + "," + b.stripPrefix("{")
}

/** Times every operation of a run and, when traced, records spans from
  * the benchmark's own calls plus Spark's listener events.
  *
  * Times are epoch milliseconds (a nanoTime offset from one epoch read,
  * so they line up with listener event times). An operation is built
  * (the entry or operator call) and then consumed (its action); a
  * failed or wrong-result operation is counted and never timed.
  */
class Recorder(spark: SparkSession, traced: Boolean, inject: Option[String]) {
  private val epoch0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private case class Op(id: Int, pass: Int, kind: String, name: String,
                        t0: Double, tBuilt: Double, t1: Double,
                        err: Option[String], out: Option[String],
                        scan: Option[String] = None)
  private val ops = ArrayBuffer.empty[Op]
  private val passes = ArrayBuffer.empty[(Int, Double, Double, String)]
  private val batches = ArrayBuffer.empty[String]
  private var curPass = 0
  private var injected = false

  /** True for exactly one operation (the first of the first warm pass)
    * when the run was started with `--inject wrong`. */
  private var corruptNow = false
  def corrupt: Boolean = corruptNow

  private val trace = if (traced) Some(new TraceListener(now _)) else None

  // micro-batch progress is needed untraced too: it is the stream
  // workload's operation latency
  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
        : Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val dur = p.durationMs.asScala.map { case (k, v) =>
        k -> Json.num(v.longValue) }.toSeq
      val st = p.stateOperators
      def sum(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long)
          = st.map(f).sum
      batches.synchronized {
        batches += Json.obj(
          "start" -> Json.num(start),
          "durations" -> Json.obj(dur: _*),
          "rows" -> Json.num(p.numInputRows),
          "state_rows" -> Json.num(sum(_.numRowsTotal)),
          "state_memory_bytes" -> Json.num(sum(_.memoryUsedBytes)),
          "late_rows_dropped" -> Json.num(sum(_.numRowsDroppedByWatermark)),
          "state_commit_ms" -> Json.num(sum(_.commitTimeMs)))
      }
    }
  })

  def startRun(): Unit = trace.foreach(_.install(spark))
  def stopRun(): Unit = {
    ListenerBridge.drain(spark.sparkContext)
    trace.foreach(_.uninstall(spark))
  }

  def pass(p: Int)(body: => Unit): Unit = {
    curPass = p
    val before = Counters.read()
    val t0 = now()
    body
    val t1 = now()
    passes += ((p, t0, t1, Counters.delta(before, Counters.read())))
  }

  /** Run one operation: `build` is the entry/operator call, `action`
    * consumes it. `check` runs afterwards, outside the timed region,
    * and returns a reason when the result is wrong. */
  def op[T](kind: String, name: String, out: Option[String] = None)
           (build: => DataFrame)(action: DataFrame => T)
           (check: T => Option[String]): Option[T] = {
    val id = ops.size
    val target = inject.isDefined && !injected && curPass == 1
    if (target) injected = true
    corruptNow = target && inject.contains("wrong")
    val sc = spark.sparkContext
    sc.setLocalProperty("graftbench.op", id.toString)
    val t0 = now()
    var tBuilt = t0
    val res: Either[String, T] =
      try {
        if (target && inject.contains("fail"))
          throw new IllegalStateException("injected failure")
        val df = build
        tBuilt = now()
        Right(action(df))
      } catch {
        case e: Throwable =>
          Left(s"${e.getClass.getSimpleName}: " +
            Option(e.getMessage).getOrElse("").linesIterator.take(1)
              .mkString.take(200))
      }
    val t1 = now()
    sc.setLocalProperty("graftbench.op", null)
    corruptNow = false
    val err = res match {
      case Left(e) => Some(e)
      case Right(v) =>
        try check(v).map("wrong result: " + _)
        catch { case e: Throwable => Some(s"check failed: $e") }
    }
    ops += Op(id, curPass, kind, name, t0, tBuilt, t1, err,
      if (res.isRight) out else None)
    if (err.nonEmpty) System.err.println(s"[perfbench] $name: ${err.get}")
    res.toOption
  }

  /** Attach what the last operation's index scans were (a rendered
    * JSON object), found after its action and outside the timed region. */
  def noteScan(json: String): Unit =
    ops(ops.size - 1) = ops.last.copy(scan = Some(json))

  def toJson: String = {
    val opJs = ops.map { o =>
      Json.obj("id" -> Json.num(o.id.toLong), "pass" -> Json.num(o.pass.toLong),
        "kind" -> Json.str(o.kind), "name" -> Json.str(o.name),
        "t0" -> Json.num(o.t0), "t_built" -> Json.num(o.tBuilt),
        "t1" -> Json.num(o.t1),
        "error" -> o.err.map(Json.str).getOrElse("null"),
        "out" -> o.out.map(Json.str).getOrElse("null"),
        "scan" -> o.scan.getOrElse("null"))
    }
    val passJs = passes.map { case (p, t0, t1, c) =>
      Json.obj("pass" -> Json.num(p.toLong), "t0" -> Json.num(t0),
        "t1" -> Json.num(t1), "counters" -> c)
    }
    Json.merge(
      Json.obj("ops" -> Json.arr(opJs.toSeq),
        "passes" -> Json.arr(passJs.toSeq),
        "batches" -> Json.arr(batches.synchronized(batches.toSeq))),
      trace.map(t => Json.obj("trace" -> t.toJson)).getOrElse("{}"))
  }
}

/** Process-wide counters read at pass boundaries: codegen (Spark's
  * CodegenMetrics), JIT and GC time from the JVM's management beans. */
object Counters {
  private def codegen = org.apache.spark.metrics.source.CodegenMetrics
    .METRIC_COMPILATION_TIME
  def read(): Map[String, Double] = {
    val cg = codegen
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
    Map(
      "codegen_compiles" -> cg.getCount.toDouble,
      // the histogram keeps a sample of compile times, so total time is
      // its mean times the exact compile count
      "codegen_ms_total" -> cg.getCount * cg.getSnapshot.getMean,
      "jit_ms" -> ManagementFactory.getCompilationMXBean
        .getTotalCompilationTime.toDouble,
      "gc_ms" -> gc.toDouble)
  }
  def delta(a: Map[String, Double], b: Map[String, Double]): String =
    Json.obj(a.keys.toSeq.sorted.map(k => k -> Json.num(b(k) - a(k))): _*)
}

/** Spark listener events as spans (job → stage → task) plus the planning
  * time of every query execution and the cached-bytes peak. */
class TraceListener(now: () => Double) extends SparkListener
    with QueryExecutionListener {
  private val jobs = ArrayBuffer.empty[String]
  private val jobOpen =
    scala.collection.mutable.Map.empty[Int, (Double, String, Seq[Int])]
  private val stages = ArrayBuffer.empty[String]
  private val tasks = ArrayBuffer.empty[String]
  private val plans = ArrayBuffer.empty[String]
  private val blocks = scala.collection.mutable.Map.empty[String, Long]
  private var cached = 0L
  private var cachedPeak = 0L

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }
  def uninstall(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties).flatMap(p =>
      Option(p.getProperty("graftbench.op"))).getOrElse("")
    jobOpen(e.jobId) = (e.time.toDouble, op, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOpen.remove(e.jobId).foreach { case (t0, op, st) =>
      jobs += Json.obj("job" -> Json.num(e.jobId.toLong), "op" -> Json.str(op),
        "t0" -> Json.num(t0), "t1" -> Json.num(e.time.toDouble),
        "stages" -> Json.arr(st.map(s => Json.num(s.toLong))))
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val s = e.stageInfo
      stages += Json.obj("stage" -> Json.num(s.stageId.toLong),
        "t0" -> Json.num(s.submissionTime.getOrElse(0L).toDouble),
        "t1" -> Json.num(s.completionTime.getOrElse(0L).toDouble),
        "tasks" -> Json.num(s.numTasks.toLong),
        "rdds" -> Json.arr(s.rddInfos.map(r => Json.num(r.id.toLong))))
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val i = e.taskInfo
    val m = e.taskMetrics
    if (m != null) tasks += Json.arr(Seq(
      Json.num(e.stageId.toLong), Json.num(i.launchTime.toDouble),
      Json.num(i.finishTime.toDouble),
      Json.num(m.executorCpuTime / 1e6), Json.num(m.executorRunTime),
      Json.num(m.jvmGCTime), Json.num(m.shuffleWriteMetrics.bytesWritten),
      Json.num(m.shuffleReadMetrics.totalBytesRead),
      Json.num(m.shuffleReadMetrics.fetchWaitTime),
      Json.num(m.inputMetrics.bytesRead), Json.num(m.inputMetrics.recordsRead),
      Json.num(m.memoryBytesSpilled + m.diskBytesSpilled)))
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    synchronized {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD) {
        val size = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
        cached += size - blocks.getOrElse(b.blockId.name, 0L)
        if (size == 0L) blocks.remove(b.blockId.name)
        else blocks(b.blockId.name) = size
        cachedPeak = cachedPeak.max(cached)
      }
    }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = synchronized {
    val ms = qe.tracker.phases.values.map(_.durationMs).sum
    plans += Json.arr(Seq(Json.num(now()), Json.num(ms.toDouble)))
  }
  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()

  def toJson: String = synchronized {
    Json.obj("jobs" -> Json.arr(jobs.toSeq),
      "stages" -> Json.arr(stages.toSeq),
      "task_fields" -> Json.arr(Seq("stage", "t0", "t1", "cpu_ms", "run_ms",
        "gc_ms", "shuffle_write", "shuffle_read", "fetch_wait_ms",
        "input_bytes", "input_records", "spill_bytes").map(Json.str)),
      "tasks" -> Json.arr(tasks.toSeq),
      "plans" -> Json.arr(plans.toSeq),
      "cached_bytes_peak" -> Json.num(cachedPeak))
  }
}
