package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.ingest.BlockParser
import graft.ops._

// ---- typed fixture model (top-level: nested case classes can't be
// encoded — they capture the suite's outer scope). Field names mirror
// Schemas.blockStateSchema.
case class TxRef(id: String)
case class In(index: Long, transaction: TxRef)
case class Out(address: String, datum: String, value: String)
case class Tx(id: String, inputs: Seq[In], outputs: Seq[Out], fee: String)
case class Block(blocktype: String, era: String, height: Long, id: String,
                 slot: Long, transactions: Seq[Tx])

/** Golden tests of the native pipeline against hand-computed expectations
  * reproducing the reference's UDF semantics (FIXTURES.md §A: adalovelace
  * rule, fill-0 outer join, diff≠0 drop, unresolved-input drop,
  * missing-price→0).
  */
class BlockPipelineSpec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._

  // b1/t1: genesis-ish (no resolvable inputs); b2/t2 spends t1's outputs;
  // t3 has an unresolvable input (predates the stream — must drop out).
  lazy val blocks: DataFrame = Seq(
    Block("praos", "conway", 100L, "b1", 1000L, Seq(
      Tx("t1", Seq(), Seq(
        Out("A", null, """{"ada":{"lovelace":1000000}}"""),
        Out("B", null,
          """{"ada":{"lovelace":500000},"pol1":{"6161":100},"pol2":{"7a7a":50}}""")),
        "171265"))),
    Block("praos", "conway", 101L, "b2", 1010L, Seq(
      Tx("t2", Seq(In(0L, TxRef("t1")), In(1L, TxRef("t1"))), Seq(
        Out("B", null, """{"ada":{"lovelace":1400000}}"""),
        Out("C", null, """{"pol1":{"6161":100}}""")),
        "2000"),
      Tx("t3", Seq(In(5L, TxRef("unknown"))), Seq(
        Out("D", null, """{"ada":{"lovelace":777}}""")),
        "1")))
  ).toDF()

  lazy val txs: DataFrame = Flatten.transactions(blocks)
  lazy val outFlows: DataFrame = TokenValues.outputFlows(txs).cache()
  lazy val inFlows: DataFrame =
    Resolver.resolve(Resolver.outpoints(txs), outFlows)
  lazy val net: DataFrame = NetFlow.compute(outFlows, inFlows).cache()

  lazy val prices: DataFrame =
    Seq(("pol16161", 2.0)).toDF("unit", "last_price_ada")
  lazy val decimals: DataFrame =
    Seq(("pol16161", 2)).toDF("unit", "decimals")
  lazy val dim: DataFrame = Pricing.dimension(prices, decimals)

  test("flatten: one row per tx with block context") {
    val got = txs.select("hash", "height", "slot").as[(String, Long, Long)]
      .collect().toSet
    assert(got == Set(("t1", 100L, 1000L), ("t2", 101L, 1010L),
      ("t3", 101L, 1010L)))
  }

  test("token values: map explode + unit canonicalization (adalovelace)") {
    val got = outFlows.select("hash", "address", "unit", "value")
      .as[(String, String, String, Long)].collect().toSet
    assert(got == Set(
      ("t1", "A", "lovelace", 1000000L),
      ("t1", "B", "lovelace", 500000L),
      ("t1", "B", "pol16161", 100L),
      ("t1", "B", "pol27a7a", 50L),
      ("t2", "B", "lovelace", 1400000L),
      ("t2", "C", "pol16161", 100L),
      ("t3", "D", "lovelace", 777L)))
  }

  test("resolver: lookup join resolves t2's inputs, drops t3's unknown") {
    val got = inFlows.select("hash", "address", "unit", "value")
      .as[(String, String, String, Long)].collect().toSet
    assert(got == Set(
      ("t2", "A", "lovelace", 1000000L),
      ("t2", "B", "lovelace", 500000L),
      ("t2", "B", "pol16161", 100L),
      ("t2", "B", "pol27a7a", 50L)))
  }

  test("net flow: diff = out − in, zero rows dropped") {
    val got = net.select("hash", "address", "unit", "diff")
      .as[(String, String, String, Long)].collect().toSet
    assert(got == Set(
      ("t1", "A", "lovelace", 1000000L),
      ("t1", "B", "lovelace", 500000L),
      ("t1", "B", "pol16161", 100L),
      ("t1", "B", "pol27a7a", 50L),
      ("t2", "A", "lovelace", -1000000L),
      ("t2", "B", "lovelace", 900000L),
      ("t2", "B", "pol16161", -100L),
      ("t2", "B", "pol27a7a", -50L),
      ("t2", "C", "pol16161", 100L),
      ("t3", "D", "lovelace", 777L)))
  }

  test("net flow: one exchange, on the composite key") {
    val outDf = Seq(("t1", "A", "u1", 5L)).toDF("hash", "address", "unit",
      "value")
    val inDf = Seq(("t1", "B", "u1", 5L)).toDF("hash", "address", "unit",
      "value")
    val plan = NetFlow.compute(outDf, inDf).queryExecution.executedPlan
      .toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan)
    assert(!plan.contains("Join"), plan)
  }

  test("declared sink schemas match what vol and edges produce") {
    def fields(s: org.apache.spark.sql.types.StructType) =
      s.fields.map(f => (f.name, f.dataType)).toSeq
    val txMeta = txs.select("hash", "height", "slot")
    assert(fields(Volume.vol(net, txMeta, dim).schema) ==
      fields(Volume.volSchema))
    assert(fields(Transfers.edges(net, dim).schema) ==
      fields(Transfers.edgesSchema))
  }

  test("vol: inflows only, price-adjusted (lovelace/1e6, price/10^dec, " +
    "missing→0), summed per (hash, unit)") {
    val txMeta = txs.select("hash", "height", "slot")
    val got = Volume.vol(net, txMeta, dim)
      .select("hash", "height", "slot", "unit", "value_adj")
      .as[(String, Long, Long, String, Double)].collect().toSet
    assert(got == Set(
      ("t1", 100L, 1000L, "lovelace", 1.5),
      ("t1", 100L, 1000L, "pol16161", 2.0),   // 100·2.0/10^2
      ("t1", 100L, 1000L, "pol27a7a", 0.0),   // unknown unit → 0
      ("t2", 101L, 1010L, "lovelace", 0.9),
      ("t2", 101L, 1010L, "pol16161", 2.0),
      ("t3", 101L, 1010L, "lovelace", 7.77e-4)))
  }

  test("rollups: by-block ÷1e6 and all-time") {
    val txMeta = txs.select("hash", "height", "slot")
    val vol = Volume.vol(net, txMeta, dim)
    val byBlock = Volume.byBlock(vol)
      .as[(String, Long, Double)].collect().toSet
    assert(byBlock == Set(
      ("lovelace", 100L, 1.5e-6), ("pol16161", 100L, 2.0e-6),
      ("lovelace", 101L, (0.9 + 7.77e-4) / 1e6), ("pol16161", 101L, 2.0e-6)))
    val allTime = Volume.allTime(Volume.byBlock(vol))
      .as[(String, Double)].collect().toMap
    assert(allTime("pol16161") == 4.0e-6)
  }

  test("transfers: receivers × senders per (tx, unit), edge value = rx " +
    "inflow, price-adjusted") {
    val got = Transfers.edges(net, dim)
      .select("hash", "unit", "rx_addr", "send_addr", "value", "value_adj")
      .as[(String, String, String, String, Long, Double)].collect().toSet
    assert(got == Set(
      ("t2", "lovelace", "B", "A", 900000L, 0.9),
      ("t2", "pol16161", "C", "B", 100L, 2.0)))
  }

  test("transfers: a batching tx pairs every receiver with every sender") {
    // one batching tx: 50 receivers × 40 senders = 2000 pairs in a
    // single (hash, unit) group, plus normal 1×1 txs
    val hotRx = (0 until 50).map(i => ("hot", s"r$i", "lovelace", 10L + i))
    val hotTx = (0 until 40).map(i => ("hot", s"s$i", "lovelace", -5L - i))
    val cold = Seq(("t1", "a", "lovelace", 7L), ("t1", "b", "lovelace", -7L),
      ("t2", "c", "pol16161", 300L), ("t2", "d", "pol16161", -300L))
    val netFlow = (hotRx ++ hotTx ++ cold)
      .toDF("hash", "address", "unit", "diff")
    val got = Transfers.edges(netFlow, dim)
      .select("hash", "unit", "rx_addr", "send_addr", "value", "value_adj")
      .as[(String, String, String, String, Long, Double)].collect()
    val hot = for (r <- 0 until 50; s <- 0 until 40)
      yield ("hot", "lovelace", s"r$r", s"s$s", 10L + r, (10L + r) / 1e6)
    assert(got.length == 50 * 40 + 2)
    assert(got.toSet == (hot ++ Seq(
      ("t1", "lovelace", "a", "b", 7L, 7.0e-6),
      ("t2", "pol16161", "c", "d", 300L, 6.0))).toSet)
  }

  test("transfers: plan is one shuffle join, no pre-pass or salting") {
    // past the broadcast threshold — the large-batch regime — the
    // pairing join shuffles each side once; the price join stays a
    // broadcast
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try PlanCheck.assertOneShufflePerJoinSide(Transfers.edges(net, dim))
    finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("transfer nodes: distinct endpoints") {
    val nodes = Transfers.nodes(Transfers.edges(net, dim))
      .as[String].collect().toSet
    assert(nodes == Set("A", "B", "C"))
  }

  test("upsert: keyed merge replaces colliding rows, keeps the rest") {
    val existing = Seq(("u1", 100L, 1.0), ("u2", 100L, 2.0))
      .toDF("unit", "height", "value_adj")
    val updates = Seq(("u1", 100L, 9.0), ("u3", 101L, 3.0))
      .toDF("unit", "height", "value_adj")
    val got = Volume.upsert(existing, updates, Seq("unit", "height"))
      .as[(String, Long, Double)].collect().toSet
    assert(got == Set(("u1", 100L, 9.0), ("u2", 100L, 2.0),
      ("u3", 101L, 3.0)))
  }

  test("block parser: jsonpickle envelope (py/state), slot→time affine") {
    val line = """{"py/state":{"blocktype":"praos","era":"conway",""" +
      """"height":10763575,"id":"3e029c1f","slot":133303885,""" +
      """"transactions":[{"id":"407010cb","inputs":[{"index":1,""" +
      """"transaction":{"id":"deadbeef"}}],"outputs":[{"address":"addr1","datum":null,""" +
      """"value":"{\"ada\":{\"lovelace\":13874042}}"}],"fee":"171265"}]}}"""
    val parsed = BlockParser.parse(Seq(line).toDF("value"))
    val row = parsed.selectExpr("height", "id", "slot",
      "cast(block_time as long)", "size(transactions)")
      .as[(Long, String, Long, Long, Int)].head()
    assert(row == ((10763575L, "3e029c1f", 133303885L,
      133303885L + 1591566291L, 1)))
    // and the parsed tx flows through the same downstream ops
    val flows = TokenValues.outputFlows(Flatten.transactions(parsed))
      .select("hash", "address", "unit", "value")
      .as[(String, String, String, Long)].collect().toSet
    assert(flows == Set(("407010cb", "addr1", "lovelace", 13874042L)))
  }

  test("block parser: malformed lines are dropped, valid ones survive") {
    val line = """{"py/state":{"blocktype":"praos","era":"conway",""" +
      """"height":1,"id":"ok","slot":5,"transactions":[]}}"""
    val parsed = BlockParser.parse(Seq(
      line, "not json at all", """{"other":1}""", "").toDF("value"))
    assert(parsed.select("id").as[String].collect().toSeq == Seq("ok"))
  }
}
