package graft
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Suite-wide interpreted-expression inventory (optimization-guide §4 /
  * task rule 4): run every declared query and, via a
  * QueryExecutionListener, walk the executed physical plan of EVERY
  * action the entry triggers — including the checkpoint/write-hidden
  * intermediate plans a final-frame explain cannot see (signature
  * materializations, index builds, micro-batch sinks) — and report
  * every expression that mixes in `CodegenFallback`, i.e. runs
  * interpreted per row inside otherwise-codegen stages. Output: one
  * line per query (`name: expr[,expr…]` or `-`), committable as the
  * round's codegen evidence.
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
    val falls =
      java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    spark.listenerManager.register(new QueryExecutionListener {
      private def walk(qe: QueryExecution): Unit =
        try qe.executedPlan.foreach { node =>
          node.expressions.foreach(_.foreach {
            case e: CodegenFallback => falls.add(e.prettyName)
            case _ => ()
          })
        } catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[audit] plan walk failed: $e")
        }
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        walk(qe)
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = walk(qe)
    })
    Harness.entries.foreach { case (name, fn) =>
      falls.clear()
      try {
        fn(spark, sfDir).count()
        // the listener bus delivers asynchronously — drain it so every
        // event of this entry lands before the set is read
        if (!org.apache.spark.graftbridge.ListenerBridge
              .drain(spark.sparkContext))
          System.err.println(s"[audit] $name: listener bus did not drain")
        val fs = falls.asScala.toSeq.sorted
        println(s"[audit] $name: " +
          (if (fs.isEmpty) "-" else fs.mkString(",")))
      } catch {
        case e: Throwable =>
          println(s"[audit] $name: ERROR ${e.getClass.getSimpleName}")
      } finally Harness.afterEntry(spark)
    }
    spark.stop()
  }
}
