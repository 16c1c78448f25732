package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** UTXO input resolution as a lookup join (SURVEY.md §2.1 S5/S6, §2.9).
  *
  * The reference resolves each tx input with a per-row HTTPS call
  * (Blockfrost, /root/reference/src/etl_vol_transfers/main.py:37-50) or a
  * batch REST call (Yaci,
  * /root/reference/src/extra/yaci_utxo_resolver/yaci_utxo_resolver.py:18-26)
  * — the single biggest anti-pattern at scale (SURVEY.md §4). Natively the
  * resolver is a data dependency: join input outpoints
  * `(source tx hash, output index)` against the engine's own table of prior
  * outputs. Catalyst picks shuffle/broadcast via AQE. VolTransferJob
  * hands it the batch's own outputs plus only the stored rows whose tx
  * an input names (a broadcast semi-join of its `utxo` table to the
  * batch's source tx hashes), so the stored table is scanned but never
  * broadcast or shuffled whole.
  *
  * Contract parity (SURVEY.md §7.4 risk 3): a LEFT join — inputs whose
  * source tx predates the stream's start point resolve to null and drop out
  * of net-flow exactly like the reference's REST-failure path
  * (/root/reference/src/etl_blockchain/main.py:57-59 acknowledges the same
  * limitation).
  */
object Resolver {

  /** Explode a tx frame's inputs into outpoints:
    * (hash = spending tx, src_tx_hash, output_index). */
  def outpoints(txs: DataFrame): DataFrame =
    txs
      .select(col("hash"), explode(col("inputs")).as("in"))
      .select(
        col("hash"),
        col("in.transaction.id").as("src_tx_hash"),
        col("in.index").as("output_index"))

  /** Resolve outpoints against a UTXO set keyed (hash, output_index,
    * address, unit, value) — e.g. TokenValues.outputFlows of all txs seen
    * so far. Returns (hash, address, unit, value) rows for resolved inputs;
    * unresolved outpoints are dropped (left-join + filter keeps the
    * asymmetry observable to the optimizer). */
  def resolve(outpointsDf: DataFrame, utxoFlows: DataFrame): DataFrame = {
    val utxo = utxoFlows.select(
      col("hash").as("src_tx_hash"), col("output_index"),
      col("address"), col("unit"), col("value"))
    outpointsDf
      .join(utxo, Seq("src_tx_hash", "output_index"), "left")
      .filter(col("address").isNotNull)
      .select(col("hash"), col("address"), col("unit"), col("value"))
  }

  /** Blockfrost-shaped resolved rows → usable inputs: drop collateral
    * (F1, /root/reference/src/etl_vol_transfers/main.py:43). */
  def dropCollateral(resolved: DataFrame): DataFrame =
    resolved.filter(!col("collateral"))
}
