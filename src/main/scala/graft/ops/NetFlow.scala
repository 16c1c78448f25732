package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-(tx, address, unit) net flow (SURVEY.md §2.9 get_transacted_actions).
  *
  * Reference semantics (/root/reference/src/etl_vol_transfers/main.py:96-105):
  * sum inputs and outputs per (address, unit) within a tx, full-outer join,
  * fill 0, `diff = out − in`, drop diff = 0. The reference runs this row-at-
  * a-time in a pandas UDF per tx; natively it is one grouped sum over the
  * union of signed flows (outputs +value, inputs −value, a null value
  * counted as 0): Σ(out) − Σ(in) per key, with a key seen on one side only
  * summing against an implicit 0 — the fill-0 outer join without the join.
  * The whole operator is a single exchange on the composite key.
  */
object NetFlow {

  /** @param outFlows (hash, address, unit, value) from TokenValues.outputFlows
    * @param inFlows  (hash, address, unit, value) from resolved inputs
    * @return (hash, address, unit, diff) with diff ≠ 0
    */
  def compute(outFlows: DataFrame, inFlows: DataFrame): DataFrame = {
    val keys = Seq(col("hash"), col("address"), col("unit"))
    def signed(flows: DataFrame, sign: Long) =
      flows.select(keys :+ (coalesce(col("value"), lit(0L)) * sign).as("v"): _*)
    signed(outFlows, 1L).unionByName(signed(inFlows, -1L))
      .groupBy(keys: _*)
      .agg(sum(col("v")).as("diff"))
      .filter(col("diff") =!= 0L)
  }
}
