package graft.streaming

import java.io.File

import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** Stream-built stores keep their streaming checkpoint inside their
  * stored entry: none is created under the system temp dir. */
class StreamCheckpointSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  private val tmp = new File(sys.props("java.io.tmpdir"))
  private def temporaries: Set[String] =
    Option(tmp.listFiles()).getOrElse(Array.empty[File])
      .map(_.getName).filter(_.startsWith("temporary-")).toSet

  /** the `temporary-*` directories that appear under the temp dir while
    * `f` runs, however briefly: Spark deletes a query's temporary
    * checkpoint when it stops without an error */
  private def temporariesDuring(f: => Unit): Set[String] = {
    val before = temporaries
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    @volatile var running = true
    val poller = new Thread(() => while (running) {
      temporaries.diff(before).foreach(seen.add)
      Thread.sleep(2)
    })
    poller.start()
    try f finally { running = false; poller.join() }
    temporaries.diff(before).foreach(seen.add)
    import scala.jdk.CollectionConverters._
    seen.asScala.toSet
  }

  test("a store stream started with a checkpoint commits there, not under the temp dir") {
    val entry = graft.TestDirs.create("graft-stream-checkpoint").toFile
    try {
      val stage = s"$entry/stage"
      spark.range(0, 30).selectExpr("id AS doc_id", "concat('doc ', id) AS text")
        .repartition(3).write.parquet(stage)
      val stream = spark.readStream.schema(StructType(Seq(
          StructField("doc_id", LongType), StructField("text", StringType))))
        .option("maxFilesPerTrigger", "1").parquet(stage)
      val created = temporariesDuring {
        LedgerMaintain.start(stream, s"$entry/store", Trigger.AvailableNow(),
          checkpoint = Some(s"$entry/checkpoint")).awaitTermination()
      }
      assert(LedgerMaintain.ledger(spark, s"$entry/store").count() == 30)
      val commits = Option(new File(s"$entry/checkpoint/commits").list()).getOrElse(Array.empty[String])
      assert(commits.count(_.forall(_.isDigit)) >= 3, s"commits: ${commits.mkString(", ")}")
      assert(created.isEmpty, s"temporary checkpoints created: $created")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(entry)
  }

  test("a stream-built store creates no temporary checkpoint under java.io.tmpdir") {
    // a source of its own, so the stored entry is built here, not reused
    val dir = graft.TestDirs.create("graft-stream-checkpoint-docs").toFile
    try {
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .write.parquet(s"$dir/documents.parquet")
      val created = temporariesDuring {
        assert(graft.operators.PipelineOps.queries("q383_bm25_index_stream")(spark, dir.toString)
          .collect().nonEmpty)
      }
      assert(created.isEmpty, s"temporary checkpoints created: $created")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }
}
