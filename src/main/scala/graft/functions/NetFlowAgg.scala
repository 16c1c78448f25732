package graft.functions

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Single-pass net-flow as a typed Aggregator (SURVEY.md §7.3's optional
  * upgrade over ops.NetFlow).
  *
  * ops.NetFlow unions signed flows and shuffles once on the composite
  * (tx, address, unit) key for a grouped sum. This form shuffles once on
  * the tx hash alone, folding each tx's rows into a map buffer — the
  * shuffle key count drops from |tx|·|addr|·|unit| to |tx|. The buffer is
  * bounded by a tx's distinct (address, unit) pairs (small by
  * construction), so it is spill-safe at any corpus size.
  */
object NetFlowAgg {

  case class SignedFlow(hash: String, address: String, unit: String,
                        value: Long)
  case class NetItem(address: String, unit: String, diff: Long)

  /** Fold signed flows into per-(address, unit) sums; zeros drop at
    * finish (the diff≠0 rule, main.py:103). */
  val aggregator: Aggregator[SignedFlow,
      mutable.Map[(String, String), Long], Seq[NetItem]] =
    new Aggregator[SignedFlow, mutable.Map[(String, String), Long],
        Seq[NetItem]] {
      override def zero: mutable.Map[(String, String), Long] =
        mutable.Map.empty
      override def reduce(b: mutable.Map[(String, String), Long],
                          f: SignedFlow) = {
        val k = (f.address, f.unit)
        b.update(k, b.getOrElse(k, 0L) + f.value); b
      }
      override def merge(a: mutable.Map[(String, String), Long],
                         b: mutable.Map[(String, String), Long]) = {
        b.foreach { case (k, v) => a.update(k, a.getOrElse(k, 0L) + v) }
        a
      }
      override def finish(b: mutable.Map[(String, String), Long]) =
        b.iterator.collect {
          case ((addr, unit), d) if d != 0L => NetItem(addr, unit, d)
        }.toSeq
      override def bufferEncoder:
          Encoder[mutable.Map[(String, String), Long]] = Encoders.kryo
      override def outputEncoder: Encoder[Seq[NetItem]] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
    }

  /** Drop-in equivalent of ops.NetFlow.compute: (hash, address, unit,
    * diff), diff ≠ 0. */
  def compute(outFlows: DataFrame, inFlows: DataFrame): DataFrame = {
    val spark = outFlows.sparkSession
    import spark.implicits._
    val signed =
      outFlows.select(col("hash"), col("address"), col("unit"),
        col("value").cast("long").as("value"))
        .unionByName(inFlows.select(col("hash"), col("address"), col("unit"),
          (-col("value")).cast("long").as("value")))
        .as[SignedFlow]
    signed.groupByKey(_.hash)
      .agg(aggregator.toColumn.name("net"))
      .toDF("hash", "net")
      .select(col("hash"), explode(col("net")).as("n"))
      .select(col("hash"), col("n.address").as("address"),
        col("n.unit").as("unit"), col("n.diff").as("diff"))
  }
}
