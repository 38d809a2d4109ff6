package graft

import org.apache.spark.sql.SparkSession

/** One JVM-wide test session (tests fork into a single JVM; a session
  * per suite would pay ~10s startup each).
  */
object SharedSpark {
  lazy val spark: SparkSession = {
    val s = Harness.session(4,
      "spark.app.name" -> "graft-test",
      "spark.sql.warehouse.dir" ->
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
