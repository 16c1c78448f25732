package perfbench

import scala.collection.mutable
import scala.util.Random

/** Traffic dimensions of the synthetic chain: each is a property the chain
  * flow's cost or output depends on. Each setting is marked with where it
  * comes from: the reference's recorded mainnet run and dimension files
  * (BASELINE.md), or, where the repository holds no data on it, an
  * assumption. */
object ChainDims {
  /** Sourced: the reference's recorded run wrote 5,920 vol rows over 1,128
    * blocks, 5.2 a block; 1–3 txs a block gives about 5.4. */
  val TxsPerBlock = (1, 3)
  /** Assumption. */
  val OutputsPerTx = (1, 4)
  /** Assumption. */
  val InputsPerTx = (1, 3)
  /** Assumption: every `FanoutEvery`-th tx is a batching tx (many outputs
    * and inputs), the receivers×senders fan-out of the transfer edges. A
    * fixed share, not a coin per tx: these txs make a large part of the
    * edges, and their count should not vary from seed to seed. */
  val FanoutEvery = 100
  val FanoutOutputs = (20, 40)
  val FanoutInputs = (4, 8)
  /** Assumption: share of outputs that carry native tokens besides
    * lovelace. */
  val TokenShare = 0.3
  /** Sourced: native-token units in circulation, and the share of them the
    * price dimension knows. The recorded run's vol_all_time holds 115
    * units; 160 units, 120 of them priced, gives about as many. */
  val TokenUnits = 160
  val PricedShare = 0.75
  /** Assumption: spend distance. An output of the last `RecentBlocks`
    * blocks (mostly the same micro-batch), a tx the store never saw
    * (unresolvable, it drops out of net flow, the reference's contract for
    * inputs older than its stream), else any older output (an earlier
    * batch). */
  val RecentShare = 0.4
  val RecentBlocks = 8
  val PreStreamShare = 0.1
  /** Assumption: Zipf-skewed address popularity. */
  val Addresses = 20000
  val ZipfS = 1.1
  /** Sourced: the price dimension is sized like the reference's snapshot,
    * 12,231 priced units, 3,262 of them with a decimals entry. */
  val PricedUnits = 12231
  val DecimalUnits = 3262
  /** Sourced: the recorded run starts at height 10,763,546; its slot span
    * over its 1,128 blocks is 20 s a block. */
  val FirstHeight = 10763546L
  val SlotsPerBlock = 20
}

final case class Out(address: String, units: Array[String], values: Array[Long])
final case class Tx(id: String, inputs: Array[(String, Int)], outputs: Array[Out])
final case class Block(height: Long, id: String, slot: Long, txs: Array[Tx])

/** What the chain flow must produce for a prefix of the chain, computed in
  * plain Scala from the generator's own records. */
final case class Expect(blocks: Long, volHeights: Long, txs: Long, volRows: Long,
                        volByUnit: Map[String, Double], edges: Long,
                        edgeAddresses: Long, outpoints: Long, resolved: Long,
                        maxPairs: Long)

/** Seeded generator of block lines in the reference's jsonpickle shape and
  * of the price and decimals dimensions. The same seed gives the same
  * chain; blocks are produced in height order and only ever spend outputs
  * of earlier txs, so what resolves does not depend on how the blocks are
  * cut into batches. */
final class ChainGen(seed: Long) {
  import ChainDims._
  private val rnd = new Random(seed)
  private def hex(n: Int): String = {
    val sb = new StringBuilder
    while (sb.length < n) sb ++= f"${rnd.nextLong()}%016x"
    sb.substring(0, n)
  }
  private def between(r: (Int, Int)): Int = r._1 + rnd.nextInt(r._2 - r._1 + 1)

  // ---- price dimension
  private val policies = Array.fill(2000)(hex(56))
  val priced: Array[(String, Double)] = Array.tabulate(PricedUnits) { i =>
    val name = f"${0x544f4b00L + i}%x"
    (policies(rnd.nextInt(policies.length)) + name, 1e-6 + rnd.nextDouble() * 5.0)
  }
  val decimals: Array[(String, Int)] =
    rnd.shuffle(priced.indices.toVector).take(DecimalUnits)
      .map(i => priced(i)._1 -> rnd.nextInt(9)).toArray
  private val priceOf = priced.toMap
  private val decimalsOf = decimals.toMap

  /** Units in circulation: split as (policy, asset-name hex) so the token
    * map groups assets under their policy. */
  private val circulating: Array[(String, String)] = Array.tabulate(TokenUnits) { _ =>
    val u = if (rnd.nextDouble() < PricedShare) priced(rnd.nextInt(priced.length))._1
            else hex(56) + f"${rnd.nextInt(1 << 24)}%06x"
    (u.substring(0, 56), u.substring(56))
  }.distinct

  // ---- Zipf address popularity (inverse-CDF sampling)
  private val zipfCdf: Array[Double] = {
    val w = Array.tabulate(Addresses)(i => 1.0 / math.pow(i + 1, ZipfS))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }
  private def address(): String = {
    val i = java.util.Arrays.binarySearch(zipfCdf, rnd.nextDouble())
    f"addr1q${if (i >= 0) i else -i - 1}%08d"
  }

  // ---- chain state
  private var height = FirstHeight
  private var txCount = 0L
  private val outpoints = mutable.ArrayBuffer.empty[(String, Int)]
  private val spent = mutable.HashSet.empty[(String, Int)]
  private val recentStarts = mutable.Queue.empty[Int]

  private def pickInput(): (String, Int) = {
    val u = rnd.nextDouble()
    val recentFrom = if (recentStarts.isEmpty) outpoints.length else recentStarts.head
    def tryPick(lo: Int, hi: Int): Option[(String, Int)] =
      if (hi <= lo) None
      else Iterator.fill(4)(outpoints(lo + rnd.nextInt(hi - lo)))
        .find(o => !spent(o))
    val picked =
      if (u < PreStreamShare) None
      else if (u < PreStreamShare + RecentShare)
        tryPick(recentFrom, outpoints.length).orElse(tryPick(0, recentFrom))
      else tryPick(0, recentFrom).orElse(tryPick(recentFrom, outpoints.length))
    picked match {
      case Some(o) => spent += o; o
      case None => (hex(64), rnd.nextInt(4))
    }
  }

  private def output(): Out = {
    val lovelace = 1000000L + (rnd.nextDouble() * 5e9).toLong
    if (rnd.nextDouble() >= TokenShare) Out(address(), Array("lovelace"), Array(lovelace))
    else {
      val toks = Seq.fill(1 + rnd.nextInt(3))(circulating(rnd.nextInt(circulating.length))).distinct
      Out(address(), ("lovelace" +: toks.map { case (p, n) => p + n }).toArray,
        (lovelace +: toks.map(_ => 1L + rnd.nextInt(1000000).toLong)).toArray)
    }
  }

  /** The next block; its outputs become spendable by later blocks. */
  def nextBlock(): Block = {
    val txs = Array.fill(between(TxsPerBlock)) {
      txCount += 1
      val fan = txCount % FanoutEvery == 0
      val nIn = between(if (fan) FanoutInputs else InputsPerTx)
      val nOut = between(if (fan) FanoutOutputs else OutputsPerTx)
      Tx(hex(64), Array.fill(nIn)(pickInput()).distinct, Array.fill(nOut)(output()))
    }
    recentStarts.enqueue(outpoints.length)
    if (recentStarts.size > RecentBlocks) recentStarts.dequeue()
    txs.foreach(t => t.outputs.indices.foreach(i => outpoints += ((t.id, i))))
    val b = Block(height, hex(64), (height - FirstHeight) * SlotsPerBlock + 140000000L, txs)
    height += 1
    b
  }

  def blocks(n: Int): Vector[Block] = Vector.fill(n)(nextBlock())

  // ---- dimension files in the reference's JSON shapes
  def pricesJson: String = priced.map { case (u, p) =>
    s"""{"id":"$u","symbol":"T${u.takeRight(6)}","last_price_usd":${p * 0.4},"last_price_ada":$p,"last_update":"2024-12-20","pricing_provider":"synthetic"}"""
  }.mkString("""{"date":"2024-12-20","assets":[""", ",", "]}")

  def decimalsJson: String =
    decimals.map { case (u, d) => s"""{"unit":"$u","decimals":$d}""" }.mkString("[", ",", "]")

  /** The reference's pricing rule, as Pricing.adjust applies it. */
  def adjust(unit: String, v: Long): Double = {
    val decimals: Int = decimalsOf.getOrElse(unit, 0)
    if (unit == "lovelace") v / 1e6
    else priceOf.get(unit).fold(0.0)(p => v.toDouble * p / math.pow(10.0, decimals))
  }
}

object ChainGen {
  /** One block as a socket/text line: the jsonpickle envelope whose single
    * field is literally named `py/state`. */
  def line(b: Block): String = {
    val sb = new StringBuilder(256 + b.txs.length * 400)
    sb ++= s"""{"py/state":{"blocktype":"praos","era":"conway","height":${b.height},"id":"${b.id}","slot":${b.slot},"transactions":["""
    b.txs.zipWithIndex.foreach { case (t, ti) =>
      if (ti > 0) sb += ','
      sb ++= s"""{"id":"${t.id}","inputs":["""
      t.inputs.zipWithIndex.foreach { case ((src, idx), i) =>
        if (i > 0) sb += ','
        sb ++= s"""{"index":$idx,"transaction":{"id":"$src"}}"""
      }
      sb ++= "],\"outputs\":["
      t.outputs.zipWithIndex.foreach { case (o, oi) =>
        if (oi > 0) sb += ','
        sb ++= s"""{"address":"${o.address}","datum":null,"value":"{"""
        val byPolicy = o.units.indices.groupBy { i =>
          if (o.units(i) == "lovelace") "ada" else o.units(i).substring(0, 56)
        }.toSeq.sortBy(_._1)
        byPolicy.zipWithIndex.foreach { case ((policy, idxs), pi) =>
          if (pi > 0) sb += ','
          sb ++= s"""\\"$policy\\":{"""
          idxs.zipWithIndex.foreach { case (i, k) =>
            if (k > 0) sb += ','
            val name = if (policy == "ada") "lovelace" else o.units(i).substring(56)
            sb ++= s"""\\"$name\\":${o.values(i)}"""
          }
          sb += '}'
        }
        sb ++= "}\"}"
      }
      sb ++= "],\"fee\":\"170000\"}"
    }
    sb ++= "]}}"
    sb.toString
  }

  /** Expected outputs of the chain flow over `blocks`, from the reference's
    * semantics: resolve inputs against every output seen so far, net flow
    * per (tx, address, unit), inflows priced and summed per (tx, unit),
    * receivers × senders per (tx, unit). */
  def expect(gen: ChainGen, blocks: Seq[Block]): Expect = {
    val outs = mutable.HashMap.empty[(String, Int), Out]
    blocks.foreach(b => b.txs.foreach(t => t.outputs.indices.foreach(i => outs((t.id, i)) = t.outputs(i))))
    var volRows, edges, outpoints, resolved, maxPairs = 0L
    val volByUnit = mutable.HashMap.empty[String, Double]
    val edgeAddr = mutable.HashSet.empty[String]
    val volHeights = mutable.HashSet.empty[Long]
    for (b <- blocks; t <- b.txs) {
      val net = mutable.HashMap.empty[(String, String), Long]
      def add(o: Out, sign: Long): Unit = o.units.indices.foreach { i =>
        val k = (o.address, o.units(i))
        net(k) = net.getOrElse(k, 0L) + sign * o.values(i)
      }
      t.outputs.foreach(add(_, 1L))
      t.inputs.foreach { op =>
        outpoints += 1
        outs.get(op).foreach { o => resolved += 1; add(o, -1L) }
      }
      net.filter(_._2 != 0L).toSeq.groupBy(_._1._2).foreach { case (unit, rows) =>
        val rx = rows.filter(_._2 > 0)
        val tx = rows.filter(_._2 < 0)
        if (rx.nonEmpty) {
          volRows += 1
          volHeights += b.height
          volByUnit(unit) = volByUnit.getOrElse(unit, 0.0) + rx.map(r => gen.adjust(unit, r._2)).sum
        }
        val pairs = rx.size.toLong * tx.size
        edges += pairs
        maxPairs = math.max(maxPairs, pairs)
        if (pairs > 0) (rx ++ tx).foreach(r => edgeAddr += r._1._1)
      }
    }
    Expect(blocks.size.toLong, volHeights.size.toLong, blocks.map(_.txs.length.toLong).sum, volRows,
      volByUnit.toMap, edges, edgeAddr.size.toLong, outpoints, resolved, maxPairs)
  }
}
