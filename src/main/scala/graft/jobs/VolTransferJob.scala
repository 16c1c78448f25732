package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StructType}
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
import graft.graph.Snapshots
import graft.ingest.BlockParser
import graft.io.Fs
import graft.ops._
import graft.streaming.FileDrop

/** Volume/transfer pipeline (SURVEY.md §3.2) — the etl_vol_transfers
  * flagship job: stream → flatten → resolve inputs → net-flow → price-adjust
  * → vol + transfer edges, all native (no UDF/REST boundary).
  *
  * UTXO state: each batch appends its output flows to a `utxo` parquet
  * table and resolves inputs against stored ∪ current outputs — the same
  * contract as the reference (inputs predating the stream's start drop
  * out, SURVEY.md §7.4 risk 3). The stored side is read as it stood
  * before the batch and semi-joined to the source tx hashes the batch's
  * inputs name, so the store is scanned (one file per batch, unbucketed,
  * with a known schema) but never broadcast or shuffled whole; the
  * batch's own outputs resolve intra-batch spends in memory.
  *
  * A batch is three Spark phases: one eager cut of the parsed txs, one
  * eager cut of the net flow (which pins the pre-write store listing),
  * then the `utxo`, `vol` and `edges` writes at once ([[Concurrently]])
  * — most of a small batch is per-job scheduling and commit time, which
  * the writes then overlap instead of queueing.
  */
object VolTransferJob {

  /** Batch core: lines + dimension tables → (utxo, vol, edges) appended
    * to outDir. The three appends run at once, so a failed batch can
    * leave partial tables: `vol` and `edges` rows may land although the
    * `utxo` append failed, and later spends of that batch's outputs then
    * drop out of the resolve. This path has no replay; a source that
    * retries batches takes `writeBatchIdempotent`, whose rerun rewrites
    * all three tables. */
  def writeBatch(spark: SparkSession, lines: DataFrame, priceDim: DataFrame,
                 outDir: String): Unit =
    writeCore(spark, lines, priceDim, outDir, None)

  /** Idempotent batch core: every output table lands in a
    * `batch=<id>` directory overwritten WHOLE, so a replayed
    * micro-batch — a job killed in the window after its data writes
    * but before its checkpoint commit — rewrites its own output
    * instead of double-appending. Exactly-once for append-shaped
    * streaming sinks = replayable source + checkpointed offsets +
    * batch-id-keyed idempotent writes; this is the third leg. The
    * pipeline is deterministic per batch (no uuid/rand on this path,
    * and the replay resolves against the store without its own
    * `batch=<id>` files), so a rewrite reproduces identical rows. */
  def writeBatchIdempotent(spark: SparkSession, lines: DataFrame,
                           priceDim: DataFrame, outDir: String,
                           batchId: Long): Unit =
    writeCore(spark, lines, priceDim, outDir, Some(batchId))

  /** The one batch chain behind both cores: with a `batchId` each
    * output table of the batch overwrites its `batch=<id>` directory,
    * without one it is appended under outDir. */
  private def writeCore(spark: SparkSession, lines: DataFrame,
                        priceDim: DataFrame, outDir: String,
                        batchId: Option[Long]): Unit = {
    def write(df: DataFrame, table: String): Unit = batchId match {
      case Some(id) =>
        df.write.mode("overwrite").parquet(s"$outDir/$table/batch=$id")
      case None => df.write.mode("append").parquet(s"$outDir/$table")
    }
    // parse once; the cut also counts the batch's outpoints, the bound
    // that lets the store-side semi-join broadcast its keys
    val txCut = Snapshots.cutObserved(
      Flatten.transactions(BlockParser.parse(lines)), MEMORY_AND_DISK,
      sum(greatest(size(col("inputs")), lit(0))).as("outpoints"))
    val txs = txCut.ds
    try {
      val outFlows = TokenValues.outputFlows(txs)
      val outpoints = Resolver.outpoints(txs)
      val utxo = storedBefore(spark, s"$outDir/utxo", outFlows.schema,
          batchId, outpoints, txCut.long("outpoints"))
        .fold(outFlows)(_.unionByName(outFlows))
      // cut BEFORE any write: a lazy frame over the store would be
      // re-planned against the files the concurrent utxo write adds
      val net = NetFlow.compute(outFlows, Resolver.resolve(outpoints, utxo))
        .localCheckpoint(true, MEMORY_AND_DISK)
      try Concurrently(
        "write-utxo" -> (() => write(outFlows.hint("rebalance"), "utxo")),
        "write-vol" -> (() => write(Volume.vol(net,
          txs.select("hash", "height", "slot"), priceDim), "vol")),
        "write-edges" -> (() => write(Transfers.edges(net, priceDim),
          "edges")))
      finally Snapshots.release(net)
    } finally Snapshots.release(txs)
  }

  /** The stored UTXO rows an outpoint of this batch can name: the store
    * at `path` as it stood before the batch (on the idempotent path
    * without the batch's own `batch=<id>` files, which a replay finds
    * already written), read with the output flows' `schema` (no
    * schema-inference job) and semi-joined to the outpoints' source tx
    * hashes — broadcast while `outpointCount`, their row count, is
    * small. None while the store does not exist yet. */
  private def storedBefore(spark: SparkSession, path: String,
                           schema: StructType, batchId: Option[Long],
                           outpoints: DataFrame,
                           outpointCount: Long): Option[DataFrame] =
    if (!Fs.pathExists(spark, path)) None
    else {
      // the idempotent path declares its `batch` partition column, so the
      // filter resolves (and keeps no row) while no batch=<id> directory
      // holds a committed file yet, e.g. after a first write was killed
      val before = batchId match {
        case None => spark.read.schema(schema).parquet(path)
        case Some(id) =>
          spark.read.schema(schema.add("batch", LongType)).parquet(path)
            .filter(col("batch") =!= id).drop("batch")
      }
      val srcHashes = outpoints.select(col("src_tx_hash").as("hash"))
      Some(before.join(Snapshots.broadcastIfSmall(srcHashes, outpointCount),
        Seq("hash"), "left_semi"))
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
