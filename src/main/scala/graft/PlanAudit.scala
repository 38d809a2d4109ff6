package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback

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
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val falls =
      java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val listener =
      new org.apache.spark.sql.util.QueryExecutionListener {
        private def walk(
            qe: org.apache.spark.sql.execution.QueryExecution): Unit =
          try qe.executedPlan.foreach { node =>
            node.expressions.foreach(_.foreach {
              case e: CodegenFallback => falls.add(e.prettyName)
              case _ => ()
            })
          } catch {
            case scala.util.control.NonFatal(e) =>
              System.err.println(s"[audit] plan walk failed: $e")
          }
        override def onSuccess(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            ns: Long): Unit = walk(qe)
        override def onFailure(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            e: Exception): Unit = walk(qe)
      }
    spark.listenerManager.register(listener)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    (SparkEntry.queries.toSeq ++ SparkEntry.benchOnly.toSeq)
      .sortBy(_._1)
      .filter(p => only.forall(_.exists(p._1.startsWith)))
      .foreach { case (name, fn) =>
        falls.clear()
        try {
          fn(spark, sfDir).count()
          // the listener bus delivers asynchronously — drain it so every
          // event of this entry lands before the set is read
          if (!org.apache.spark.graftbridge.ListenerBridge
                .drain(spark.sparkContext))
            System.err.println(s"[audit] $name: listener bus did not drain")
          val fs = new java.util.TreeSet[String](falls)
          println(s"[audit] $name: " +
            (if (fs.isEmpty) "-"
             else {
               val it = scala.jdk.CollectionConverters
                 .IterableHasAsScala(fs).asScala
               it.mkString(",")
             }))
        } catch {
          case e: Throwable =>
            println(s"[audit] $name: ERROR ${e.getClass.getSimpleName}")
        } finally {
          try graft.operators.Materialize.releaseAll(spark)
          catch { case _: Throwable => () }
          try TempDirs.cleanAll() catch { case _: Throwable => () }
        }
      }
    spark.stop()
  }
}
