package graft.streaming

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

/** The reference's drain-on-close for streaming queries: run a query over
  * everything its sources hold now (`Trigger.AvailableNow`) and wait for
  * it to end. The query starts inside [[LocalCheckpointFileManager.scoped]]
  * with `confs` set for it alone, so its offset, commit, state-store and
  * file-source log files are written without forking processes, as the
  * grouper lanes' logs are. */
object Streams {

  private val sinks = new AtomicLong(0L)

  /** Drains `df` into a memory sink in `outputMode` and returns the sink's
    * table. */
  def drain(df: DataFrame, outputMode: String, confs: (String, String)*): DataFrame =
    df.sparkSession.table(runToEnd(df, confs: _*)(memorySink(_, outputMode)).name)

  /** `writer` into a memory sink in `outputMode`. The query, and the table
    * it fills, are named `graft_stream_<n>`, which `Harness.hygiene` drops
    * between queries. */
  private[graft] def memorySink[T](writer: DataStreamWriter[T], outputMode: String): DataStreamWriter[T] =
    writer.format("memory").queryName(s"graft_stream_${sinks.incrementAndGet()}")
      .outputMode(outputMode)

  /** Starts `ds` on the sink that `sink` sets up and returns the query
    * once it has terminated. */
  def runToEnd[T](ds: Dataset[T], confs: (String, String)*)(
      sink: DataStreamWriter[T] => DataStreamWriter[T]): StreamingQuery = {
    val query = LocalCheckpointFileManager.scoped(ds.sparkSession, confs: _*) {
      val q = sink(ds.writeStream).trigger(Trigger.AvailableNow()).start()
      // a file source makes its log while the query initializes, after
      // `start` returns; a query that dies there throws, as it would below
      q.asInstanceOf[StreamingQueryWrapper].streamingQuery.awaitInitialization(Long.MaxValue)
      q
    }
    query.awaitTermination()
    query
  }
}
