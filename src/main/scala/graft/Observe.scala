package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.SparkContext
import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{
  QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}
import org.apache.spark.sql.util.QueryExecutionListener

/** The engine's one listener layer: what an entry (one harness unit
  * of work — a bench query, an audited entry, a test's measured
  * action) did, seen through Spark's listeners.
  *
  *  - task-end byte counters: shuffle write and read, spill, input;
  *  - phases: each [[time]]d iteration or serve round, and each
  *    completed micro-batch as `batch<id>` → its triggerExecution
  *    seconds, in arrival order;
  *  - fallbacks: the `CodegenFallback` expressions (interpreted per
  *    row inside otherwise-codegen stages) of every plan the entry
  *    executes, checkpoint- and write-hidden intermediates included,
  *    adaptive plans walked through their final stages.
  *
  * Everything records only while an [[entry]] is active: library
  * callers, Verify and the test suites pay one volatile read per
  * [[time]] call and allocate nothing. The listeners are installed on
  * the first entry of each `SparkContext` (the streaming and
  * query-execution ones on that entry's session), so a restarted
  * session gets fresh ones.
  */
object Observe {

  /** Task-metric byte totals of one entry. */
  final case class Bytes(write: Long, read: Long, spilled: Long,
                         input: Long)

  /** One entry's record: wall seconds of the body, its byte deltas,
    * its phases in arrival order and its sorted fallback names.
    */
  final case class Record(sec: Double, shuffle: Bytes,
                          phases: Seq[(String, Double)],
                          fallbacks: Seq[String])

  @volatile private var current: String = null
  @volatile private var installedOn: SparkContext = null
  private val write = new AtomicLong
  private val read = new AtomicLong
  private val spilled = new AtomicLong
  private val input = new AtomicLong
  private val phases = new ConcurrentLinkedQueue[(String, Double)]()
  private val fallbacks = ConcurrentHashMap.newKeySet[String]()

  /** Time `body` under `label` when an entry is active; otherwise run
    * it untimed.
    */
  def time[T](label: String)(body: => T): T =
    if (current == null) body
    else {
      val t0 = System.nanoTime()
      val r = body
      record(label, (System.nanoTime() - t0) / 1e9)
      r
    }

  /** Run `body` as entry `name` and return its result (or whatever it
    * threw) with the entry's [[Record]]. The bus is drained before
    * `body`, so no earlier event lands in the entry, and again after
    * it, so every event of `body` does; only `body` is timed.
    */
  def entry[T](spark: SparkSession, name: String)(body: => T)
      : (Either[Throwable, T], Record) = {
    val sc = spark.sparkContext
    install(spark)
    drain(sc, name)
    current = name
    val t0 = System.nanoTime()
    val out = try Right(body) catch { case e: Throwable => Left(e) }
    val sec = (System.nanoTime() - t0) / 1e9
    try drain(sc, name) finally current = null
    val fs = fallbacks.asScala.toSeq.sorted
    fallbacks.clear()
    (out, Record(sec,
      Bytes(write.getAndSet(0L), read.getAndSet(0L),
        spilled.getAndSet(0L), input.getAndSet(0L)),
      Iterator.continually(phases.poll()).takeWhile(_ != null).toList,
      fs))
  }

  private def record(label: String, sec: Double): Unit =
    if (current != null) phases.add(label -> sec): Unit

  private def drain(sc: SparkContext, name: String): Unit =
    if (!ListenerBridge.drain(sc))
      System.err.println(
        s"[observe] $name: listener bus did not drain; its record " +
          "may be incomplete")

  private def install(spark: SparkSession): Unit = synchronized {
    val sc = spark.sparkContext
    if (installedOn ne sc) {
      sc.addSparkListener(Tasks)
      spark.listenerManager.register(Plans)
      spark.streams.addListener(Batches)
      installedOn = sc
    }
  }

  private object Tasks extends SparkListener {
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null && current != null) {
        write.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        read.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        spilled.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        input.addAndGet(m.inputMetrics.bytesRead)
        ()
      }
    }
  }

  private object Batches extends StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val ms = Option(e.progress.durationMs.get("triggerExecution"))
        .map(_.doubleValue).getOrElse(0.0)
      record(s"batch${e.progress.batchId}", ms / 1000.0)
    }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  private object Plans extends QueryExecutionListener {
    // `foreach` treats an adaptive plan, its query stages and reused
    // exchanges as leaves: descend into what each wraps
    private def visit(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => visit(a.executedPlan)
      case q: QueryStageExec => visit(q.plan)
      case r: ReusedExchangeExec => visit(r.child)
      case _ =>
        p.expressions.foreach(_.foreach {
          case e: CodegenFallback => fallbacks.add(e.prettyName)
          case _ => ()
        })
        (p.children ++ p.subqueries).foreach(visit)
    }
    private def walk(qe: QueryExecution): Unit =
      if (current != null)
        try visit(qe.executedPlan) catch {
          case NonFatal(e) =>
            System.err.println(s"[observe] plan walk failed: $e")
        }
    override def onSuccess(f: String, qe: QueryExecution,
        ns: Long): Unit = walk(qe)
    override def onFailure(f: String, qe: QueryExecution,
        e: Exception): Unit = walk(qe)
  }
}
