package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import graft.ingest.BlockParser
import graft.ops.Flatten
import graft.streaming.FileDrop

/** Raw-block persistence pipeline (SURVEY.md §3.1) — the etl_blockchain job
  * re-expressed: stream of JSON lines → parse → four tables per micro-batch
  * (block, tx, tx_output, tx_input), parquet instead of JDBC.
  *
  * The reference re-evaluates the lineage from the socket batch for each of
  * its four writes (/root/reference/src/etl_blockchain/main.py:31-63, no
  * cache); here the parsed/exploded frames are persisted once per batch and
  * the four writes share them (SURVEY.md §3.1 note).
  */
object RawPersistJob {

  /** Batch core, shared by streaming foreachBatch and tests. */
  def writeBatch(lines: DataFrame, outDir: String): Unit = {
    val blocks = BlockParser.parse(lines).persist()
    val txs = Flatten.transactions(blocks).persist()
    try {
      Flatten.blockTable(blocks).write.mode("append")
        .parquet(s"$outDir/block")
      Flatten.txTable(txs).write.mode("append").parquet(s"$outDir/tx")
      Flatten.txOutputTable(txs).write.mode("append")
        .parquet(s"$outDir/tx_output")
      Flatten.txInputTable(txs).write.mode("append")
        .parquet(s"$outDir/tx_input")
    } finally { txs.unpersist(); blocks.unpersist() }
  }

  /** Streaming entry: socket source → foreachBatch (K5, same shape as
    * /root/reference/src/etl_blockchain/main.py:66-68). The reference
    * configured no checkpointing (SURVEY.md §2.12); pass `checkpoint` for
    * restart recovery with a replayable source (files/Kafka — the socket
    * source itself cannot replay). */
  def run(spark: SparkSession, host: String, port: Int, outDir: String,
          checkpoint: Option[String] = None): StreamingQuery = {
    val w = spark.readStream.format("socket")
      .option("host", host).option("port", port)
      .option("includeTimestamp", true).load()
      .writeStream
      .foreachBatch { (df: DataFrame, _: Long) =>
        writeBatch(df.select("value"), outDir)
      }
    checkpoint.fold(w)(c => w.option("checkpointLocation", c)).start()
  }

  /** Production-grade variant: file-drop source (replayable — unlike the
    * socket source it supports checkpointed exactly-once recovery,
    * [[FileDrop]]) with an AvailableNow trigger: drains everything
    * present, then stops. Each file holds newline-JSON block lines. */
  def runFiles(spark: SparkSession, inDir: String, outDir: String,
               checkpoint: String): StreamingQuery =
    FileDrop.drain(spark.readStream.text(inDir), checkpoint) { (df, _) =>
      writeBatch(df.select("value"), outDir)
    }
}
