package graft

import org.apache.spark.sql.SparkSession

/** ONE SparkSession for the whole sbt-test JVM (r16, VERDICT #2).
  *
  * Every suite used to build its own `local[2]` session — but
  * `Test / fork := true` runs all suites sequentially in one JVM and
  * `getOrCreate()` reuses the first active session, so the WHOLE
  * 104-file suite silently ran on 2 cores with 2 shuffle partitions
  * (whichever suite touched Spark first won). This object makes the
  * sharing explicit and builds it through `HarnessSession`, so every
  * suite runs the production settings and Catalyst extensions, sized
  * for the test box: 8 cores at most (tiny fixtures gain nothing past
  * that — task overhead dominates) and 4 shuffle partitions.
  */
object TestSpark {
  lazy val session: SparkSession = {
    val cores = math.min(8, Runtime.getRuntime.availableProcessors())
    HarnessSession(cores.toString,
      "spark.master" -> s"local[$cores]",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.maxMetadataStringLength" -> "4000")
  }
}
