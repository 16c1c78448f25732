package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import graft.ingest.BlockParser
import graft.ops._
import graft.streaming.FileDrop

/** Volume/transfer pipeline (SURVEY.md §3.2) — the etl_vol_transfers
  * flagship job: stream → flatten → resolve inputs → net-flow → price-adjust
  * → vol + transfer edges, all native (no UDF/REST boundary).
  *
  * UTXO state: each batch appends its output flows to a `utxo` parquet table
  * and resolves inputs against stored ∪ current outputs — the same contract
  * as the reference (inputs predating the stream's start drop out,
  * SURVEY.md §7.4 risk 3). The utxo table is an unbucketed, append-only
  * directory that every batch re-lists and scans whole, so the resolve
  * grows with stream age; the bounded, bucket-pruned resolve is ROADMAP
  * item 2.
  */
object VolTransferJob {

  /** Batch core: lines + dimension tables → (vol, edges) appended to
    * outDir. */
  def writeBatch(spark: SparkSession, lines: DataFrame, priceDim: DataFrame,
                 outDir: String): Unit =
    writeCore(spark, lines, priceDim, outDir,
      (df, table) => df.write.mode("append").parquet(s"$outDir/$table"))

  /** Idempotent batch core: every output table lands in a
    * `batch=<id>` directory overwritten WHOLE, so a replayed
    * micro-batch — a job killed in the window after its data writes
    * but before its checkpoint commit — rewrites its own output
    * instead of double-appending. Exactly-once for append-shaped
    * streaming sinks = replayable source + checkpointed offsets +
    * batch-id-keyed idempotent writes; this is the third leg. The
    * pipeline is deterministic per batch (no uuid/rand on this path),
    * so a rewrite reproduces identical bytes. */
  def writeBatchIdempotent(spark: SparkSession, lines: DataFrame,
                           priceDim: DataFrame, outDir: String,
                           batchId: Long): Unit =
    writeCore(spark, lines, priceDim, outDir,
      (df, table) => df.write.mode("overwrite")
        .parquet(s"$outDir/$table/batch=$batchId"))

  /** The one batch chain behind both cores; `write(df, table)` stores
    * one output table of the batch under outDir. */
  private def writeCore(spark: SparkSession, lines: DataFrame,
                        priceDim: DataFrame, outDir: String,
                        write: (DataFrame, String) => Unit): Unit = {
    val blocks = BlockParser.parse(lines)
    val txs = Flatten.transactions(blocks).persist()
    try {
      val outFlows = TokenValues.outputFlows(txs).persist()
      // grow the UTXO set first so intra- and cross-batch spends resolve
      write(outFlows, "utxo")
      // a batch=<id> layout makes partition discovery add a synthetic
      // batch column — drop it (a no-op on the append layout), so
      // downstream operators see the plain utxo schema
      val utxo = spark.read.parquet(s"$outDir/utxo").drop("batch")
      val inFlows = Resolver.resolve(Resolver.outpoints(txs), utxo)
      val net = NetFlow.compute(outFlows, inFlows).persist()
      val txMeta = txs.select("hash", "height", "slot")
      write(Volume.vol(net, txMeta, priceDim), "vol")
      write(Transfers.edges(net, priceDim), "edges")
      net.unpersist()
      outFlows.unpersist()
    } finally { txs.unpersist() }
  }

  /** Streaming entry (K5 foreachBatch, parity with
    * /root/reference/src/etl_vol_transfers/main.py:211-227). */
  def run(spark: SparkSession, host: String, port: Int, priceDim: DataFrame,
          outDir: String,
          checkpoint: Option[String] = None): StreamingQuery = {
    val w = spark.readStream.format("socket")
      .option("host", host).option("port", port)
      .option("includeTimestamp", true).load()
      .writeStream
      .foreachBatch { (df: DataFrame, _: Long) =>
        writeBatch(spark, df.select("value"), priceDim, outDir)
      }
    checkpoint.fold(w)(c => w.option("checkpointLocation", c)).start()
  }

  /** Checkpointed file-source entry: the replayable-source form of the
    * flagship job (the socket source cannot replay, so its checkpoint
    * can't give exactly-once; a file/queue source can and does).
    * AvailableNow drains what exists and terminates — restart with the
    * same checkpoint resumes after the last COMMITTED batch and
    * re-runs any uncommitted one, which `writeBatchIdempotent`
    * absorbs. */
  def runFiles(spark: SparkSession, inDir: String, priceDim: DataFrame,
               outDir: String, checkpoint: String): StreamingQuery =
    FileDrop.drain(spark.readStream.text(inDir), checkpoint) { (df, id) =>
      writeBatchIdempotent(spark, df.select("value"), priceDim, outDir, id)
    }
}
