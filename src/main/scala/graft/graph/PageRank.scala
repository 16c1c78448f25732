package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Iterative DataFrame PageRank (SURVEY.md §2.10 X2) — the one genuinely
  * custom operator: the reference delegates to Neo4j GDS
  * (/root/reference/airflow/archive/dags/etl_pagerank_dag.py:43-48); here it
  * is k rounds of join → groupBy-sum, the GraphFrames-style formulation.
  *
  * Normalized variant: ranks sum to 1; dangling-node mass is redistributed
  * uniformly each round:
  *   rank'(v) = (1−d)/N + d·( Σ_{u→v} rank(u)/outDeg(u) + dangling/N )
  *
  * Two arithmetic modes share one iteration driver ([[loop]]):
  * [[run]] in doubles (the analytics form), [[runScaled]] in fixed-point
  * longs (bit-reproducible cross-engine → DuckDB-oracle-able).
  *
  * Scale notes: edges shuffle once on src per iteration (ranks are tiny —
  * one row per node — so the join broadcasts them when they fit); lineage
  * is cut every `checkpointEvery` iterations (localCheckpoint) or the plan
  * grows exponentially (SURVEY.md §7.3) — each iteration references
  * `ranks` twice (contribs + dangling mass), so the default cuts every
  * iteration, the standard practice for iterative DataFrame algorithms.
  */
object PageRank {

  /** Shared iteration driver. Eager local checkpoints, not cache(): the
    * (possibly expensive) edge build materializes exactly once before
    * the loop; out-degree is joined into the edge list ONCE.
    *
    * Job-count discipline (round 18 — guide §1/§2.4; measured: the r17
    * loop ran 97 scheduled jobs for 10 iterations at local[32], with
    * total task time under 1 s — per-job scheduling overhead WAS the
    * query): every driver-side count rides an `Observation` on a
    * materialization that happens anyway (edge count on the edge cut;
    * n / |seeds| / dangling counts on the node cut; the per-round
    * dangling mass on the round's checkpoint), the dangling-node flag
    * lives ON the rank rows (is_dang — no per-round anti-join subtree,
    * no separate dangling-nodes snapshot), and when the previous round
    * is materialized the dangling mass enters the next round's plan as
    * a LITERAL (bit-identical value, zero extra jobs) instead of a
    * broadcast 1-row subquery. When the node set is small enough to
    * broadcast (`BcastNodesMaxKey`, default 1M rows), the per-round
    * joins hint broadcast on the node-sized side, so the edge frame is
    * never shuffled inside an iteration — the correct shape at every
    * scale where nodes ≪ edges fit executor memory; past the bound the
    * loop keeps the shuffle joins.
    *
    * NOTE [[Observation.get]] blocks until an action materializes the
    * observed frame — sound here only because Snapshots.cut/cutSized
    * are EAGER localCheckpoints (a lazy cut variant would turn these
    * gets into hangs).
    *
    * @param init     n → initial score column
    * @param contrib  per-edge contribution over (score, out_deg)
    * @param zero     score-typed zero literal (dangling-mass coalesce)
    * @param update   (n, contrib, Some(danglingMass)?) → new score
    * @param onIter   (iteration, seconds) after each eagerly
    *   materialized iteration — the skew-probe instrumentation hook;
    *   fires only for checkpointed iterations (the last one is lazy
    *   until the caller's action)
    * @param tolerance when set, stop as soon as the L1 delta
    *   Σ|score − score_prevCheckpoint| < tolerance. Checked only at
    *   checkpoint boundaries, where BOTH compared frames are already
    *   materialized — the delta is one co-partitioned join + 1-row agg
    *   over node-count rows, nothing of the edge-shuffle iteration is
    *   recomputed. At 100 TB each saved round is a full edge shuffle;
    *   a converged graph stops paying them. None (the default) keeps
    *   the exact fixed-iteration schedule — the bit-reproducible
    *   oracle contract (q34/q95) stays byte-identical. */
  private def loop(edges: DataFrame, iterations: Int, checkpointEvery: Int,
                   init: (Long, Long) => Column, contrib: Column, zero: Column,
                   update: (Long, Long, Column, Option[Column]) => Column,
                   onIter: (Int, Double) => Unit = (_, _) => (),
                   seeds: Option[DataFrame] = None,
                   tolerance: Option[Double] = None)
      : DataFrame = {
    val obsE = org.apache.spark.sql.Observation()
    val e = edges.select(col("src"), col("dst")).distinct()
      // edge count observed DURING the cut's materialization (no
      // separate count job): sizes the node/eDeg snapshots below
      // (nodes ≤ 2·edges, eDeg rows == edges)
      .observe(obsE, count(lit(1)).as("n"))
      .transform(Snapshots.cut)
    val edgeCount = obsE.get("n").asInstanceOf[Long]
    // teleport set: uniform PageRank IS the personalized recurrence with
    // every node a seed, so one loop serves both — is_seed ∈ {0,1} and
    // S = |seeds| parameterize init and update. has_out folds the
    // dangling-node detection into the same node aggregation (a node is
    // dangling iff it never appears as src), replacing the r17
    // anti-join + separate dangling snapshot + existence-count jobs.
    val nodes0 = e.select(col("src").as("address"), lit(1).as("has_out"))
      .unionByName(e.select(col("dst").as("address"), lit(0).as("has_out")))
      .groupBy(col("address")).agg(max(col("has_out")).as("has_out"))
    val flagged = (seeds match {
      case Some(sd) =>
        val flag = sd.select(col("node").cast(nodes0.schema.head.dataType)
          .as("address")).distinct().withColumn("is_seed", lit(1))
        nodes0.join(flag, Seq("address"), "left")
          .select(col("address"),
            coalesce(col("is_seed"), lit(0)).as("is_seed"), col("has_out"))
      case None => nodes0.withColumn("is_seed", lit(1))
    }).select(col("address"), col("is_seed"),
      (lit(1) - col("has_out")).as("is_dang"))
    // n, |seeds|, dangling counts all ride the node cut's
    // materialization — one job where the r17 loop ran four
    val obsN = org.apache.spark.sql.Observation()
    val nodes = flagged
      .observe(obsN, count(lit(1)).as("n"),
        coalesce(sum(col("is_seed")), lit(0L)).as("s"),
        coalesce(sum(col("is_dang")), lit(0L)).as("dang"))
      .transform(ds => Snapshots.cutSized(ds, 2L * edgeCount))
    val n = obsN.get("n").asInstanceOf[Long]
    if (n == 0) // empty graph → empty result, for both variants
      return nodes.select(col("address")).withColumn("score", zero)
    val s = obsN.get("s").asInstanceOf[Long]
    require(seeds.isEmpty || s > 0,
      "personalization seeds must intersect the graph")
    val hasDangling = obsN.get("dang").asInstanceOf[Long] > 0
    // eDeg is the per-iteration hot read (every round joins it against
    // ranks) — exactly edgeCount rows, so small graphs keep it in memory
    val eDeg = e.join(
      e.groupBy(col("src")).agg(count(lit(1)).as("out_deg")), Seq("src"))
      .transform(ds => Snapshots.cutSized(ds, edgeCount))
    // node-sized frames (ranks, contribs) are broadcast into the
    // per-round joins when n is provably small — the edge frame is then
    // never shuffled inside an iteration. Conf-gated (rows), because at
    // 100 TB node frames are far past broadcast range and the shuffle
    // join is the only correct shape.
    def nodeSized(df: DataFrame): DataFrame =
      Snapshots.broadcastIfSmall(df, n)

    // init ranks, materialized with the round-0 dangling mass observed
    // (the per-round dm of round i rides round i's checkpoint the same
    // way): rank rows carry (is_seed, is_dang) so every per-round
    // scalar is an aggregate OF THE CHECKPOINT, never a fresh subtree
    val obs0 = org.apache.spark.sql.Observation()
    var ranks = nodes.select(col("address"), col("is_seed"),
      col("is_dang"), init(n, s).as("score"))
      .observe(obs0,
        sum(when(col("is_dang") === 1, col("score"))).as("dm"))
      .transform(ds => Snapshots.cutSized(ds, n))
    // raw observed dangling mass of the last MATERIALIZED round (Long
    // for the scaled variant, Double for the float one; null ⇒ no
    // dangling rows ⇒ only read when hasDangling is false)
    var dmVal: Any = obs0.get("dm")
    var lastCp = ranks
    var converged = false
    for (i <- 1 to iterations if !converged) {
      val t0 = System.nanoTime()
      val prevMaterialized = i == 1 || (i - 1) % checkpointEvery == 0
      val rsel = ranks.select(col("address"), col("score"))
      // contributions and the node roll-call ride ONE aggregation: the
      // per-edge contribution rows union a zero-contribution row per
      // node (carrying the flags), so every node surfaces with its
      // summed inflow — the former shape (contrib agg → second
      // broadcast/shuffle → left outer join) paid an extra exchange or
      // broadcast build per round for the same values (x + 0 ≡
      // coalesce(x, 0) exactly, in both arithmetic modes; flags ride
      // max() over the union, with contribution rows at 0)
      val contribRows = eDeg
        .join(nodeSized(rsel), eDeg("src") === rsel("address"))
        .select(col("dst").as("address"), lit(0).as("is_seed"),
          lit(0).as("is_dang"), contrib.as("contrib"))
      val joined = contribRows
        .unionByName(ranks.select(col("address"), col("is_seed"),
          col("is_dang"), zero.as("contrib")))
        .groupBy(col("address"))
        .agg(max(col("is_seed")).as("is_seed"),
          max(col("is_dang")).as("is_dang"),
          sum(col("contrib")).as("contrib"))
      val withDm =
        if (!hasDangling) joined
        else if (prevMaterialized)
          // previous round is checkpointed and its dangling mass was
          // observed during that materialization: fold it in as a
          // literal — the identical value the 1-row aggregate would
          // produce, with zero extra jobs
          joined.withColumn("dm",
            if (dmVal == null) zero else lit(dmVal))
        else {
          // un-materialized previous round (checkpointEvery > 1): the
          // mass is a lazy 1-row aggregate over the rank frame, folded
          // in via broadcast cross join (no per-iteration action)
          val dangling = ranks.filter(col("is_dang") === 1)
            .agg(coalesce(sum(col("score")), zero).as("dm"))
          joined.crossJoin(broadcast(dangling))
        }
      ranks = withDm.select(col("address"), col("is_seed"), col("is_dang"),
        update(n, s, col("contrib"),
          if (hasDangling) Some(col("dm")) else None).as("score"))
      if (i % checkpointEvery == 0 && i < iterations) {
        val obsI = org.apache.spark.sql.Observation()
        ranks = ranks
          .observe(obsI,
            sum(when(col("is_dang") === 1, col("score"))).as("dm"))
          .transform(ds => Snapshots.cutSized(ds, n))
        dmVal = obsI.get("dm")
        onIter(i, (System.nanoTime() - t0) / 1e9)
        tolerance.foreach { tol =>
          val delta = ranks
            .select(col("address"), col("score").as("s_new"))
            .join(lastCp.select(col("address"), col("score").as("s_old")),
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
        // retire the superseded comparand's blocks: the new eager
        // checkpoint is self-contained, so without this, block-manager
        // storage grows with iterations / checkpointEvery
        val retired = lastCp
        lastCp = ranks
        if (retired ne ranks) retired.unpersist()
      }
    }
    ranks.select(col("address"), col("score"))
  }


  /** Floating-point variant (ranks sum to 1).
    * @param edges DataFrame with string columns `src`, `dst`
    * @param tolerance > 0 enables L1-delta early exit (see [[loop]]);
    *   0 keeps the exact fixed-iteration schedule
    * @return (address, score) */
  def run(edges: DataFrame, iterations: Int = 20, damping: Double = 0.85,
          checkpointEvery: Int = 1, tolerance: Double = 0.0,
          onIter: (Int, Double) => Unit = (_, _) => ()): DataFrame =
    floatLoop(edges, None, iterations, damping, checkpointEvery,
      tolerance, onIter)

  /** One float body for both the uniform and personalized variants —
    * with no seeds every node is a seed and the recurrence reduces to
    * classic PageRank, so the formulas cannot drift apart. */
  private def floatLoop(edges: DataFrame, seeds: Option[DataFrame],
                        iterations: Int, damping: Double,
                        checkpointEvery: Int, tolerance: Double = 0.0,
                        onIter: (Int, Double) => Unit = (_, _) => ())
      : DataFrame =
    loop(edges, iterations, checkpointEvery, seeds = seeds,
      onIter = onIter,
      tolerance = if (tolerance > 0) Some(tolerance) else None,
      init = (_, s) => col("is_seed") * lit(1.0 / s),
      contrib = col("score") / col("out_deg"),
      zero = lit(0.0),
      update = (_, s, c, dm) => {
        val inflow = dm match {
          case Some(mass) =>
            coalesce(c, lit(0.0)) + col("is_seed") * (mass / s)
          case None => coalesce(c, lit(0.0))
        }
        col("is_seed") * lit((1.0 - damping) / s) + lit(damping) * inflow
      })

  /** Integer-scaled (fixed-point) PageRank: ranks live as longs in units
    * of 1/`scale`, every step is integer arithmetic —
    *
    *   rank₀      = scale div N
    *   contrib(v) = Σ_{u→v} rank(u) div outDeg(u)
    *   rank'(v)   = (15·rank₀ + 85·(contrib(v) + danglingMass div N)) div 100
    *
    * Integer sums are associative, and truncating division of
    * non-negative longs is identical in Spark (`div`) and ANSI engines
    * (DuckDB `//`), so the result is bit-reproducible cross-engine —
    * this is what gives the X2 operator a real DuckDB oracle (the
    * float variant is order-of-summation dependent). Truncation error
    * per step is < N/scale, far below rank magnitudes at scale 10¹².
    * @return (address, score) with score = rank · scale as a long */
  def runScaled(edges: DataFrame, iterations: Int = 10,
                scale: Long = 1000000000000L,
                checkpointEvery: Int = 1,
                onIter: (Int, Double) => Unit = (_, _) => (),
                toleranceScaled: Long = 0L): DataFrame =
    scaledLoop(edges, None, iterations, scale, checkpointEvery, onIter,
      toleranceScaled)

  /** One integer-scaled body for both variants — see [[floatLoop]].
    * `toleranceScaled` is in score units (1/scale). */
  private def scaledLoop(edges: DataFrame, seeds: Option[DataFrame],
                         iterations: Int, scale: Long,
                         checkpointEvery: Int,
                         onIter: (Int, Double) => Unit = (_, _) => (),
                         toleranceScaled: Long = 0L)
      : DataFrame =
    loop(edges, iterations, checkpointEvery, onIter = onIter, seeds = seeds,
      tolerance =
        if (toleranceScaled > 0) Some(toleranceScaled.toDouble) else None,
      init = (_, s) => expr(s"is_seed * ${scale / s}L"),
      contrib = expr("score div out_deg"),
      zero = lit(0L),
      update = (_, s, c, dm) => {
        val base = scale / s
        dm match {
          case Some(_) =>
            expr(s"(15 * ${base}L * is_seed + 85 * (coalesce(contrib, 0L) " +
              s"+ is_seed * (dm div ${s}L))) div 100")
          case None =>
            expr(s"(15 * ${base}L * is_seed " +
              "+ 85 * coalesce(contrib, 0L)) div 100")
        }
      })

  /** Personalized (seeded) PageRank, float variant — see
    * [[runScaledPersonalized]] for the contract. */
  def runPersonalized(edges: DataFrame, seeds: DataFrame,
                      iterations: Int = 20, damping: Double = 0.85,
                      checkpointEvery: Int = 1): DataFrame =
    floatLoop(edges, Some(seeds), iterations, damping, checkpointEvery)

  /** Personalized (seeded) PageRank, integer-scaled: teleport and
    * dangling mass go only to `seeds` (a frame with a `node` column),
    * so scores measure proximity to the seed set — the random-walk-
    * with-restart used for related-wallet / related-document queries.
    * Uniform [[runScaled]] is exactly this with every node a seed, so
    * both share one loop and the same bit-reproducibility contract. */
  def runScaledPersonalized(edges: DataFrame, seeds: DataFrame,
                            iterations: Int = 10,
                            scale: Long = 1000000000000L,
                            checkpointEvery: Int = 1): DataFrame =
    scaledLoop(edges, Some(seeds), iterations, scale, checkpointEvery)

  /** Ranked extract (W3): scores descending, deterministic tie-break. */
  def ranked(scores: DataFrame): DataFrame =
    scores.orderBy(col("score").desc, col("address").asc)
}
