package graft

import org.apache.hadoop.util.NativeCodeLoader
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.ProcessStarts.checkpointForks

/** The streaming queries' drains write their offset, commit and state-store
  * files without forking processes. */
class StreamsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Session.local(4)

  override def afterAll(): Unit = spark.stop()

  private val managerKey = "spark.sql.streaming.checkpointFileManagerClass"

  private def run(name: String) =
    assert(SparkEntry.queries(name)(spark, "/root/testdata/sf0.001").count() > 0)

  test("q136 and q77 start no processes through a checkpoint file manager (JFR gate)") {
    assert(checkpointForks { run("q136_stream_outer_join"); run("q77_stream_stream_join") } == 0)
    // control: the probe sees the forks of Spark's default manager, which
    // Hadoop's local file system makes when its native library is absent
    if (!NativeCodeLoader.isNativeCodeLoaded) {
      spark.conf.set(managerKey, classOf[FileContextBasedCheckpointFileManager].getName)
      try assert(checkpointForks(run("q77_stream_stream_join")) >= 1)
      finally spark.conf.unset(managerKey)
    }
  }
}
