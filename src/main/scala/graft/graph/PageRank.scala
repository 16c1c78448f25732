package graft.graph

import org.apache.spark.Partitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, LongType,
  StructField, StructType}
import org.apache.spark.storage.StorageLevel
import scala.jdk.CollectionConverters._

/** PageRank (SURVEY.md §2.10 X2) — the one genuinely custom operator:
  * the reference delegates to Neo4j GDS (its
  * airflow/archive/dags/etl_pagerank_dag.py:43-48).
  *
  * Normalized variant: ranks sum to 1; dangling-node mass is redistributed
  * uniformly each round:
  *   rank'(v) = (1−d)/N + d·( Σ_{u→v} rank(u)/outDeg(u) + dangling/N )
  *
  * Two arithmetic modes ([[Arith]]): [[run]] in doubles (the analytics
  * form), [[runScaled]] in fixed-point longs (bit-reproducible
  * cross-engine → DuckDB-oracle-able).
  *
  * Two regimes, split on the node count n observed by the prelude:
  *
  *  - n ≤ `Snapshots.BcastRowsMax` (1M): the rank vector lives on the
  *    driver ([[vectorRounds]]). Edges become int index pairs, cached
  *    per dst-range partition as primitive arrays; each round broadcasts
  *    rank/outDeg, runs ONE Spark job that returns each partition's
  *    contiguous slice of the contribution vector (n values per round in
  *    total), and applies the update on the driver. On small per-round
  *    work the job count is the cost: the DataFrame form plans a fresh
  *    query and runs three jobs per round (measured on the chain_flow
  *    rollup graph, 4,104 nodes / 25,820 edges, 4 cores: 4.2 s and 68
  *    jobs for 20 rounds, against 1.3 s and 26 jobs here).
  *  - n > that bound: the iterative DataFrame loop ([[frameLoop]]) —
  *    join → groupBy-sum per round with an eager lineage cut, the only
  *    shape that works when the rank vector does not fit on the driver.
  *
  * The bound is the graph family's broadcast bound on purpose: a rank
  * vector that may be broadcast to every executor may also be held by
  * the driver, and the vector regime broadcasts one every round.
  * Integer sums are associative, so the scaled results of both regimes
  * are bit-identical; the double results agree up to summation order.
  */
object PageRank {

  /** Shared prelude, then the regime split. The distinct edges and the
    * node set are eager lineage cuts; every driver-side count is
    * observed on a materialization that happens anyway
    * ([[Snapshots.cutObserved]]: edge count on the edge cut;
    * n / |seeds| / dangling counts on the node cut).
    *
    * @param onIter   (iteration, seconds) after each eagerly
    *   materialized round — the skew-probe instrumentation hook; fires
    *   every round in the vector regime, every round but the last
    *   (lazy until the caller's action) in the DataFrame loop
    * @param tolerance when set, stop as soon as the L1 delta
    *   Σ|score − score_prev| < tolerance. None (the default) keeps the
    *   exact fixed-iteration schedule — the bit-reproducible oracle
    *   contract (q34/q95) stays byte-identical.
    * @param vectorMaxNodes node-count bound of the vector regime; only
    *   the parity specs lower it, to reach the DataFrame loop on small
    *   graphs */
  private[graft] def loop[A](edges: DataFrame, seeds: Option[DataFrame],
                             iterations: Int, arith: Arith[A],
                             onIter: (Int, Double) => Unit = (_, _) => (),
                             tolerance: Option[Double] = None,
                             vectorMaxNodes: Long = Snapshots.BcastRowsMax)
      : DataFrame = {
    val distinctEdges = edges.select(col("src"), col("dst")).distinct()
    // edge count observed DURING the cut's materialization (no separate
    // count job): sizes the node snapshot below (nodes ≤ 2·edges) and
    // the DataFrame loop's edge snapshot
    val (e, edgeCount) =
      Snapshots.cutCounted(distinctEdges, Snapshots.level(distinctEdges))
    // teleport set: uniform PageRank IS the personalized recurrence with
    // every node a seed, so one loop serves both — is_seed ∈ {0,1} and
    // S = |seeds| parameterize init and update. The edges are distinct,
    // so summing has_out over the union counts each node's out-edges:
    // out-degree and the dangling flag (out_deg = 0) come from the same
    // node aggregation.
    val nodes0 = e.select(col("src").as("address"), lit(1).as("has_out"))
      .unionByName(e.select(col("dst").as("address"), lit(0).as("has_out")))
      .groupBy(col("address")).agg(sum(col("has_out")).as("out_deg"))
    val flagged = (seeds match {
      case Some(sd) =>
        val flag = sd.select(col("node").cast(nodes0.schema.head.dataType)
          .as("address")).distinct().withColumn("is_seed", lit(1))
        nodes0.join(flag, Seq("address"), "left")
          .withColumn("is_seed", coalesce(col("is_seed"), lit(0)))
      case None => nodes0.withColumn("is_seed", lit(1))
    }).select(col("address"), col("is_seed"), col("out_deg"))
    // n, |seeds|, dangling counts all ride the node cut's
    // materialization
    val cn = Snapshots.cutObserved(flagged,
      Snapshots.levelFor(flagged, 2L * edgeCount), count(lit(1)).as("n"),
      coalesce(sum(col("is_seed")), lit(0L)).as("s"),
      count(when(col("out_deg") === 0, 1)).as("dang"))
    val nodes = cn.ds
    val n = cn.long("n")
    if (n == 0) // empty graph → empty result, for both variants
      return nodes.select(col("address")).withColumn("score", arith.zero)
    val s = cn.long("s")
    require(seeds.isEmpty || s > 0,
      "personalization seeds must intersect the graph")
    if (n <= vectorMaxNodes)
      vectorRounds(e, nodes, n.toInt, s, edgeCount, iterations, arith,
        onIter, tolerance)
    else
      frameLoop(e, nodes, n, s, cn.long("dang") > 0, edgeCount, iterations,
        arith, onIter, tolerance)
  }

  /** Edges per cached partition of the vector regime, at most (~32 MB of
    * index arrays); small graphs use the default parallelism. */
  private val EdgesPerBlock: Long = 1L << 22

  /** The vector regime: the rank vector as a driver array indexed by the
    * collected node list, one Spark job per round (see the object doc).
    * Returns (address, score) as a local relation, so the prelude's
    * edge and node cuts are released on the way out. */
  private def vectorRounds[A](e: DataFrame, nodes: DataFrame, n: Int,
                              s: Long, edgeCount: Long, iterations: Int,
                              arith: Arith[A], onIter: (Int, Double) => Unit,
                              tolerance: Option[Double]): DataFrame = {
    val spark = e.sparkSession
    val sc = spark.sparkContext
    val rows = nodes.select(col("address"), col("is_seed"), col("out_deg"))
      .collect()
    val address = rows.map(_.get(0))
    val seed = rows.map(_.getInt(1))
    val outDeg = rows.map(_.getLong(2))
    val addressType = nodes.schema("address").dataType
    val parts = math.min(n.toLong,
      math.max(sc.defaultParallelism.toLong, edgeCount / EdgesPerBlock)).toInt
    val range = new DstRange(n, parts)
    // node index = position in the collected list. The address → index
    // map ships as a broadcast variable, which runs no job (a broadcast
    // join against the list runs one collect job per side). src matches
    // by `===` and dst by `<=>`, exactly as the DataFrame loop joins
    // ranks on src and groups contributions by dst.
    val index = sc.broadcast(address.iterator.zipWithIndex.toMap)
    // built and cached by round 1's job: no separate layout job
    val blocks = e.rdd
      .flatMap { r =>
        if (r.isNullAt(0)) None
        else Some((index.value(r.get(1)), index.value(r.get(0))))
      }
      .partitionBy(range)
      .mapPartitionsWithIndex((p, it) =>
        Iterator(EdgeBlock(range.lo(p), range.lo(p + 1), it)))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var rank = arith.init(seed, s)
    var i = 0
    var converged = false
    try {
      while (i < iterations && !converged) {
        i += 1
        val t0 = System.nanoTime()
        val c = arith.contrib(blocks, arith.weights(rank, outDeg))
        val next = arith.update(rank, c, seed, outDeg, s)
        converged = tolerance.exists(arith.l1(next, rank) < _)
        rank = next
        onIter(i, (System.nanoTime() - t0) / 1e9)
      }
    } finally {
      blocks.unpersist(blocking = false)
      index.destroy()
      Snapshots.release(e)
      Snapshots.release(nodes)
    }
    spark.createDataFrame(
      address.indices.map(v => Row(address(v), rank(v))).asJava,
      StructType(Seq(StructField("address", addressType),
        StructField("score", arith.scoreType, nullable = false))))
  }

  /** The DataFrame regime, for node sets past the driver bound. Eager
    * local checkpoints every round but the last, not cache(): the
    * out-degree join into the edge list materializes exactly once
    * before the loop. The dangling-node flag lives ON the rank rows
    * (is_dang), and each round's dangling mass is observed during that
    * round's checkpoint and enters the next round's plan as a literal
    * (bit-identical value, zero extra jobs). Node frames here are past
    * the broadcast bound by construction, so every per-round join is a
    * shuffle join.
    *
    * Tolerance is checked at the checkpoints, where BOTH compared frames
    * are already materialized — the delta is one co-partitioned join +
    * 1-row agg over node-count rows, nothing of the edge-shuffle round
    * is recomputed. */
  private def frameLoop[A](e: DataFrame, nodes: DataFrame, n: Long, s: Long,
                           hasDangling: Boolean, edgeCount: Long,
                           iterations: Int, arith: Arith[A],
                           onIter: (Int, Double) => Unit,
                           tolerance: Option[Double]): DataFrame = {
    val eDeg = e.join(
      nodes.select(col("address").as("src"), col("out_deg")), Seq("src"))
      .transform(ds => Snapshots.cutSized(ds, edgeCount))
    // init ranks, materialized with the round-0 dangling mass observed
    // (round i's mass rides round i's checkpoint the same way): rank
    // rows carry (is_seed, is_dang) so every per-round scalar is an
    // aggregate OF THE CHECKPOINT, never a fresh subtree
    val init = nodes.select(col("address"), col("is_seed"),
      (col("out_deg") === 0).cast("int").as("is_dang"),
      arith.initCol(s).as("score"))
    val c0 = Snapshots.cutObserved(init, Snapshots.levelFor(init, n),
      sum(when(col("is_dang") === 1, col("score"))).as("dm"))
    var ranks = c0.ds
    // raw observed dangling mass of the previous round (Long for the
    // scaled variant, Double for the float one; null ⇒ no dangling rows
    // ⇒ only read when hasDangling is false)
    var dmVal: Any = c0.values("dm")
    var converged = false
    for (i <- 1 to iterations if !converged) {
      val t0 = System.nanoTime()
      val prev = ranks
      val rsel = ranks.select(col("address"), col("score"))
      // contributions and the node roll-call ride ONE aggregation: the
      // per-edge contribution rows union a zero-contribution row per
      // node (carrying the flags), so every node surfaces with its
      // summed inflow (x + 0 ≡ coalesce(x, 0) exactly, in both
      // arithmetic modes; flags ride max() over the union, with
      // contribution rows at 0)
      val contribRows = eDeg
        .join(rsel, eDeg("src") === rsel("address"))
        .select(col("dst").as("address"), lit(0).as("is_seed"),
          lit(0).as("is_dang"), arith.contribCol.as("contrib"))
      val joined = contribRows
        .unionByName(ranks.select(col("address"), col("is_seed"),
          col("is_dang"), arith.zero.as("contrib")))
        .groupBy(col("address"))
        .agg(max(col("is_seed")).as("is_seed"),
          max(col("is_dang")).as("is_dang"),
          sum(col("contrib")).as("contrib"))
      val withDm =
        if (!hasDangling) joined
        else joined.withColumn("dm",
          if (dmVal == null) arith.zero else lit(dmVal))
      ranks = withDm.select(col("address"), col("is_seed"), col("is_dang"),
        arith.updateCol(s, hasDangling).as("score"))
      if (i < iterations) {
        val ci = Snapshots.cutObserved(ranks, Snapshots.levelFor(ranks, n),
          sum(when(col("is_dang") === 1, col("score"))).as("dm"))
        ranks = ci.ds
        dmVal = ci.values("dm")
        onIter(i, (System.nanoTime() - t0) / 1e9)
        tolerance.foreach { tol =>
          val delta = ranks
            .select(col("address"), col("score").as("s_new"))
            .join(prev.select(col("address"), col("score").as("s_old")),
              Seq("address"))
            .agg(sum(abs(col("s_new") - col("s_old"))).as("d"))
            .head().get(0)
          val d: Double = delta match {
            case l: java.lang.Long       => l.doubleValue()
            case f: java.lang.Double     => f.doubleValue()
            case b: java.math.BigDecimal => b.doubleValue()
            case _                       => 0.0
          }
          if (d < tol) converged = true
        }
        // retire the superseded round's blocks: the new eager
        // checkpoint is self-contained
        Snapshots.release(prev)
      }
    }
    ranks.select(col("address"), col("score"))
  }

  /** The arithmetic of one PageRank flavour in both regimes: Column
    * forms over the rank rows (address, is_seed, is_dang, score) for the
    * DataFrame loop, whole-array forms for the vector rounds. The two
    * forms of a flavour apply the same operations in the same order, so
    * they differ at most by summation order. */
  private[graft] sealed trait Arith[A] {
    def scoreType: DataType
    def zero: Column
    def initCol(s: Long): Column
    /** per-edge contribution over (score, out_deg) */
    def contribCol: Column
    /** new score over (is_seed, contrib) and, if `dangling`, `dm` */
    def updateCol(s: Long, dangling: Boolean): Column
    def init(seed: Array[Int], s: Long): Array[A]
    /** per-node contribution rank(u) / outDeg(u) (0 when dangling) */
    def weights(rank: Array[A], outDeg: Array[Long]): Array[A]
    /** Σ_{u→v} w(u) for every v: broadcasts w, runs the round's one job */
    def contrib(blocks: RDD[EdgeBlock], w: Array[A]): Array[A]
    /** the round's update; dangling mass is 0 with no dangling nodes,
      * which leaves every update expression's value unchanged */
    def update(rank: Array[A], c: Array[A], seed: Array[Int],
               outDeg: Array[Long], s: Long): Array[A]
    /** Σ|a − b| */
    def l1(a: Array[A], b: Array[A]): Double
  }

  /** Doubles; ranks sum to 1. */
  private[graft] final case class Fractional(damping: Double)
      extends Arith[Double] {
    def scoreType: DataType = DoubleType
    def zero: Column = lit(0.0)
    def initCol(s: Long): Column = col("is_seed") * lit(1.0 / s)
    def contribCol: Column = col("score") / col("out_deg")
    def updateCol(s: Long, dangling: Boolean): Column = {
      val inflow =
        if (dangling) col("contrib") + col("is_seed") * (col("dm") / s)
        else col("contrib")
      col("is_seed") * lit((1.0 - damping) / s) + lit(damping) * inflow
    }
    def init(seed: Array[Int], s: Long): Array[Double] =
      seed.map(_ * (1.0 / s))
    def weights(rank: Array[Double], outDeg: Array[Long]): Array[Double] =
      Array.tabulate(rank.length)(u =>
        if (outDeg(u) > 0) rank(u) / outDeg(u) else 0.0)
    def contrib(blocks: RDD[EdgeBlock], w: Array[Double]): Array[Double] = {
      val wb = blocks.sparkContext.broadcast(w)
      try Array.concat(blocks.map(_.sum(wb.value)).collect(): _*)
      finally wb.destroy()
    }
    def update(rank: Array[Double], c: Array[Double], seed: Array[Int],
               outDeg: Array[Long], s: Long): Array[Double] = {
      var dm = 0.0
      for (u <- rank.indices if outDeg(u) == 0) dm += rank(u)
      val teleport = (1.0 - damping) / s
      Array.tabulate(rank.length)(v =>
        seed(v) * teleport + damping * (c(v) + seed(v) * (dm / s)))
    }
    def l1(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0
      for (v <- a.indices) d += math.abs(a(v) - b(v))
      d
    }
  }

  /** Fixed-point longs in units of 1/`scale`; see [[runScaled]]. */
  private[graft] final case class Scaled(scale: Long) extends Arith[Long] {
    def scoreType: DataType = LongType
    def zero: Column = lit(0L)
    def initCol(s: Long): Column = expr(s"is_seed * ${scale / s}L")
    def contribCol: Column = expr("score div out_deg")
    def updateCol(s: Long, dangling: Boolean): Column = {
      val base = scale / s
      if (dangling)
        expr(s"(15 * ${base}L * is_seed + 85 * (contrib " +
          s"+ is_seed * (dm div ${s}L))) div 100")
      else expr(s"(15 * ${base}L * is_seed + 85 * contrib) div 100")
    }
    def init(seed: Array[Int], s: Long): Array[Long] =
      seed.map(_ * (scale / s))
    def weights(rank: Array[Long], outDeg: Array[Long]): Array[Long] =
      Array.tabulate(rank.length)(u =>
        if (outDeg(u) > 0) rank(u) / outDeg(u) else 0L)
    def contrib(blocks: RDD[EdgeBlock], w: Array[Long]): Array[Long] = {
      val wb = blocks.sparkContext.broadcast(w)
      try Array.concat(blocks.map(_.sum(wb.value)).collect(): _*)
      finally wb.destroy()
    }
    def update(rank: Array[Long], c: Array[Long], seed: Array[Int],
               outDeg: Array[Long], s: Long): Array[Long] = {
      var dm = 0L
      for (u <- rank.indices if outDeg(u) == 0) dm += rank(u)
      val base = scale / s
      Array.tabulate(rank.length)(v =>
        (15 * base * seed(v) + 85 * (c(v) + seed(v) * (dm / s))) / 100)
    }
    def l1(a: Array[Long], b: Array[Long]): Double = {
      var d = 0L
      for (v <- a.indices) d += math.abs(a(v) - b(v))
      d.toDouble
    }
  }

  /** Contiguous dst-index ranges: partition p holds dst ∈ [lo(p), lo(p+1)),
    * so each partition's contributions are one slice of the vector. */
  private final class DstRange(n: Int, parts: Int) extends Partitioner {
    def numPartitions: Int = parts
    def getPartition(key: Any): Int =
      (key.asInstanceOf[Int].toLong * parts / n).toInt
    def lo(p: Int): Int = ((p.toLong * n + parts - 1) / parts).toInt
  }

  /** One dst-range partition of the indexed edge list as primitive
    * arrays, sorted by (dst, src) so every round sums in one fixed
    * order whatever order the shuffle delivered the edges in. */
  private[graft] final class EdgeBlock(lo: Int, hi: Int, src: Array[Int],
                                       dst: Array[Int]) extends Serializable {
    def sum(w: Array[Double]): Array[Double] = {
      val acc = new Array[Double](hi - lo)
      var k = 0
      while (k < src.length) { acc(dst(k) - lo) += w(src(k)); k += 1 }
      acc
    }
    def sum(w: Array[Long]): Array[Long] = {
      val acc = new Array[Long](hi - lo)
      var k = 0
      while (k < src.length) { acc(dst(k) - lo) += w(src(k)); k += 1 }
      acc
    }
  }

  private[graft] object EdgeBlock {
    /** @param pairs (dst, src) index pairs with dst ∈ [lo, hi) */
    def apply(lo: Int, hi: Int, pairs: Iterator[(Int, Int)]): EdgeBlock = {
      val keys = pairs.map { case (d, s) => (d.toLong << 32) | s }.toArray
      java.util.Arrays.sort(keys)
      new EdgeBlock(lo, hi, keys.map(k => k.toInt), keys.map(k => (k >>> 32).toInt))
    }
  }

  /** Floating-point variant (ranks sum to 1).
    * @param edges DataFrame with string columns `src`, `dst`
    * @param tolerance > 0 enables L1-delta early exit (see [[loop]]);
    *   0 keeps the exact fixed-iteration schedule
    * @return (address, score) */
  def run(edges: DataFrame, iterations: Int = 20, damping: Double = 0.85,
          tolerance: Double = 0.0,
          onIter: (Int, Double) => Unit = (_, _) => ()): DataFrame =
    loop(edges, None, iterations, Fractional(damping), onIter,
      if (tolerance > 0) Some(tolerance) else None)

  /** Integer-scaled (fixed-point) PageRank: ranks live as longs in units
    * of 1/`scale`, every step is integer arithmetic —
    *
    *   rank₀      = scale div N
    *   contrib(v) = Σ_{u→v} rank(u) div outDeg(u)
    *   rank'(v)   = (15·rank₀ + 85·(contrib(v) + danglingMass div N)) div 100
    *
    * Integer sums are associative, and truncating division of
    * non-negative longs is identical in Spark (`div`), on the JVM (`/`,
    * the vector regime) and in ANSI engines (DuckDB `//`), so the result
    * is bit-reproducible across regimes and engines — this is what gives
    * the X2 operator a real DuckDB oracle (the float variant is
    * order-of-summation dependent). Truncation error per step is
    * < N/scale, far below rank magnitudes at scale 10¹².
    * `toleranceScaled` is in score units (1/scale).
    * @return (address, score) with score = rank · scale as a long */
  def runScaled(edges: DataFrame, iterations: Int = 10,
                scale: Long = 1000000000000L,
                onIter: (Int, Double) => Unit = (_, _) => (),
                toleranceScaled: Long = 0L): DataFrame =
    loop(edges, None, iterations, Scaled(scale), onIter,
      if (toleranceScaled > 0) Some(toleranceScaled.toDouble) else None)

  /** Personalized (seeded) PageRank, float variant — see
    * [[runScaledPersonalized]] for the contract. */
  def runPersonalized(edges: DataFrame, seeds: DataFrame,
                      iterations: Int = 20,
                      damping: Double = 0.85): DataFrame =
    loop(edges, Some(seeds), iterations, Fractional(damping))

  /** Personalized (seeded) PageRank, integer-scaled: teleport and
    * dangling mass go only to `seeds` (a frame with a `node` column),
    * so scores measure proximity to the seed set — the random-walk-
    * with-restart used for related-wallet / related-document queries.
    * Uniform [[runScaled]] is exactly this with every node a seed, so
    * both share one loop and the same bit-reproducibility contract. */
  def runScaledPersonalized(edges: DataFrame, seeds: DataFrame,
                            iterations: Int = 10,
                            scale: Long = 1000000000000L): DataFrame =
    loop(edges, Some(seeds), iterations, Scaled(scale))

  /** Ranked extract (W3): scores descending, deterministic tie-break. */
  def ranked(scores: DataFrame): DataFrame =
    scores.orderBy(col("score").desc, col("address").asc)
}
