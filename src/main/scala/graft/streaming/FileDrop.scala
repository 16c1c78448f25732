package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The file-drop exactly-once wiring behind every job's `runFiles` (the
  * reference's `foreachBatch` ingest, SURVEY §2.2 K5, on a replayable
  * source): a file source, a checkpoint, and an AvailableNow trigger
  * that drains every file present and stops.
  *
  * Restart with the same checkpoint resumes after the last COMMITTED
  * batch and re-runs an uncommitted one with the same batch id, so
  * `batch` must absorb a replay — each ingest job's store anti-join
  * drops rows it already holds, and `VolTransferJob` overwrites its
  * `batch=<id>` directories whole. */
object FileDrop {

  /** Start draining `source` (a streaming file read) into `batch`,
    * which gets each micro-batch and its id. */
  def drain(source: DataFrame, checkpoint: String)
           (batch: (DataFrame, Long) => Unit): StreamingQuery =
    source.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch(batch)
      .start()
}
