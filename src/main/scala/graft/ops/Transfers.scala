package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Transfer-edge attribution (SURVEY.md §2.9 compute_transfers, §2.6 J3).
  *
  * Reference semantics
  * (/root/reference/src/etl_vol_transfers/main.py:150-167): within each
  * (tx, unit), every receiver (diff>0) pairs with every sender (diff<0,
  * abs) — a deliberate per-group cross product, edge value = the
  * receiver's inflow, plus its price-adjusted form. Replicated exactly,
  * not "improved" (SURVEY.md §7.4 risk 4).
  *
  * The cross product is one equi-join on the grouping key (hash, unit):
  * Catalyst shuffles each side once on that key. No group is salted.
  * A group is one transaction, and Cardano's `maxTxSize` (16,384 bytes,
  * with an input ≥ ~36 B and an output ≥ ~40 B) bounds a valid tx at
  * ~4.7×10⁴ receiver×sender pairs — small enough for one reducer. AQE's
  * runtime skew-join split (on by default) still divides an oversized
  * shuffle partition, and [[Skew.saltedJoin]] stays available for keys
  * that are not bounded this way.
  */
object Transfers {

  /** The schema of the `edges` sink table [[edges]] produces; its
    * readers pass it so they run no schema-inference job. */
  val edgesSchema: StructType = StructType(Seq(
    StructField("hash", StringType),
    StructField("unit", StringType),
    StructField("rx_addr", StringType),
    StructField("send_addr", StringType),
    StructField("value", LongType),
    StructField("value_adj", DoubleType)))

  /** @param netFlow  (hash, address, unit, diff)
    * @param priceDim Pricing.dimension output
    * @return edges (hash, unit, rx_addr, send_addr, value, value_adj) */
  def edges(netFlow: DataFrame, priceDim: DataFrame): DataFrame = {
    val receivers = netFlow.filter(col("diff") > 0)
      .select(col("hash"), col("unit"),
        col("address").as("rx_addr"), col("diff").as("value"))
    val senders = netFlow.filter(col("diff") < 0)
      .select(col("hash"), col("unit"), col("address").as("send_addr"))
    Pricing.adjust(receivers.join(senders, Seq("hash", "unit")), priceDim)
      .select(col("hash"), col("unit"), col("rx_addr"), col("send_addr"),
        col("value"), col("value_adj"))
  }

  /** Node table: distinct endpoint addresses (SURVEY.md §2.10 X1, §2.8 U1). */
  def nodes(edges: DataFrame): DataFrame =
    edges.select(col("rx_addr").as("address"))
      .union(edges.select(col("send_addr").as("address")))
      .distinct()

  /** 1-hop neighborhood sample (X3): edge scan + limit; expansion is a
    * self-join on dst = src. */
  def sample(edges: DataFrame, n: Int): DataFrame = edges.limit(n)
}
