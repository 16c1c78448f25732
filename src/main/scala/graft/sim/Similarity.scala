package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.graph.Snapshots

/** Approximate/exact nearest-neighbor search over an embedding column
  * (BASELINE.json north star: similarity search as a first-class engine
  * capability). Brute-force cosine top-k is the exact baseline; the IVF
  * and sign-LSH variants are the sub-linear scale paths. All vector math
  * is `aggregate`/`zip_with` fold expressions — codegen'd, sequential
  * (deterministic) summation, no UDF.
  */
object Similarity {

  /** Sequential-fold dot product of two array<double> columns — the
    * built-ins-only form, kept as the reference/fallback implementation. */
  def dotFold(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def cosineFold(a: Column, b: Column): Column =
    dotFold(a, b) / (sqrt(dotFold(a, a)) * sqrt(dotFold(b, b)))

  /** Native codegen'd forms (graft.functions.VectorExpressions): same
    * sequential summation order → bit-identical to the fold forms, one
    * tight loop instead of lambda evaluation per element. */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.dot_product(a, b)

  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.cosine_sim(a, b)

  /** Exact brute-force cosine top-k: every query scores every vector
    * (queries broadcast — the fact side streams once), then a per-query
    * top-k window. Self-matches excluded. At 100 TB this is the one-pass
    * exact baseline the approximate paths are measured against. */
  def bruteForceTopK(embeddings: DataFrame, queries: DataFrame,
                     k: Int): DataFrame = {
    val e = embeddings.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").cast("array<double>").as("qv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("cosine", cosine(col("qv"), col("v")))
      // vectors out before the top-k window: the window sort buffers
      // whole rows, and (id, id, cosine) is ~40× narrower than rows
      // still dragging two d-dim arrays (the KnnGraph sf10 lesson)
      .select(col("query_id"), col("vec_id"), col("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rank"))
  }

  /** IVF (inverted-file) ANN: coarse centroids from a cluster column
    * (k-means lives upstream — see [[ivfTopKTrained]] for the unlabeled
    * path; here any coarse assignment works), queries probe only the
    * `nprobe` nearest cells. Sub-linear: the scored set is
    * |cells probed| / |cells| of the data. */
  def ivfTopK(embeddings: DataFrame, queries: DataFrame, k: Int,
              nprobe: Int = 2, cellCol: String = "label"): DataFrame = {
    val e = embeddings.select(col("vec_id"), col(cellCol).as("cell"),
      col("embedding").cast("array<double>").as("v"))
    // centroid per cell: element-wise mean via posexplode + re-assemble
    val centroids = e
      .select(col("cell"), posexplode(col("v")).as(Seq("i", "x")))
      .groupBy(col("cell"), col("i")).agg(avg(col("x")).as("m"))
      .groupBy(col("cell"))
      .agg(array_sort(collect_list(struct(col("i"), col("m")))).as("im"))
      .select(col("cell"), expr("transform(im, s -> s.m)").as("centroid"))
    ivfProbe(e, centroids, queries, k, nprobe)
  }

  /** Shared IVF probe: rank cells per query by centroid cosine, keep
    * `nprobe`, score only vectors in probed cells, top-k per query.
    * Centroids broadcast (k cells by definition of a coarse quantizer);
    * the only shuffle over the data is the cell-key join. */
  private def ivfProbe(e: DataFrame, centroids: DataFrame,
                       queries: DataFrame, k: Int, nprobe: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").cast("array<double>").as("qv"))
    val wCell = Window.partitionBy(col("query_id"))
      .orderBy(col("cell_sim").desc, col("cell").asc)
    val probed = q.crossJoin(broadcast(centroids))
      .withColumn("cell_sim", cosine(col("qv"), col("centroid")))
      .withColumn("cr", row_number().over(wCell))
      .filter(col("cr") <= nprobe)
      .select(col("query_id"), col("qv"), col("cell"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    e.join(probed, Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine", cosine(col("qv"), col("v")))
      // vectors out before the top-k window (see bruteForceTopK)
      .select(col("query_id"), col("vec_id"), col("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rank"))
  }

  /** Index of the centroid (literal model) with the highest cosine to
    * `v`; ties break to the lowest index. Pure per-row expression — no
    * shuffle, no lookup join. Round-15: a codegen kernel
    * ([[graft.functions.NearestCellsFloat]]) — the interpreted
    * transform/struct chain (kept as [[nearestCellHof]], the pinned
    * specification) evaluated one lambda + allocation per CELL per row
    * on every semantic-dedup corpus row, every IVF corpus row, and
    * every Lloyd iteration — the exact pattern round 14 measured at
    * 8.5–60× on the integer twin (SCALE_AUDIT "the integer
    * nearest-cell assignment kernel'd"). */
  private[graft] def nearestCell(v: Column, centroids: Seq[Seq[Double]]): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.NearestCellsFloat(
        org.apache.spark.sql.graftbridge.Bridge.expression(v),
        centroids.map(_.toIndexedSeq).toIndexedSeq,
        l2 = false, take2 = false))

  /** L2 twin of [[nearestCell]]: argmin squared distance (as argmax of
    * its negation), ties to the lowest index. The metric PQ codebook
    * training needs — subspace slices carry magnitude, which cosine
    * assignment ignores. Round-15: same kernel, L2 metric (HOF spec
    * kept as [[nearestCellL2Hof]]). */
  private[graft] def nearestCellL2(v: Column, centroids: Seq[Seq[Double]]): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.NearestCellsFloat(
        org.apache.spark.sql.graftbridge.Bridge.expression(v),
        centroids.map(_.toIndexedSeq).toIndexedSeq,
        l2 = true, take2 = false))

  /** The pre-kernel HOF cosine argmax — KEPT as the executable
    * specification the kernel is pinned against
    * (NearestCellFloatKernelSpec), the NearestCellKernelSpec precedent. */
  private[graft] def nearestCellHof(v: Column,
                                    centroids: Seq[Seq[Double]]): Column = {
    val scored = transform(typedLit(centroids),
      (c, i) => struct(cosine(v, c).as("s"), (-i).as("ni")))
    (-array_max(scored).getField("ni")).cast("int")
  }

  /** The pre-kernel HOF L2 argmin — the pinned specification for the
    * L2 form of [[nearestCellL2]]. */
  private[graft] def nearestCellL2Hof(v: Column,
                                      centroids: Seq[Seq[Double]]): Column = {
    val scored = transform(typedLit(centroids),
      (c, i) => struct(
        aggregate(zip_with(v, c, (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, d) => acc + d).unary_-.as("s"),
        (-i).as("ni")))
    (-array_max(scored).getField("ni")).cast("int")
  }

  /** Lloyd's k-means over the embedding column — the centroid-training
    * step IVF needs on an unlabeled corpus (no label shortcut). Pure
    * DataFrame ops + a k×d driver-side model per iteration:
    *
    *  - seeding is deterministic (no RNG): the k vectors with the
    *    smallest xxhash64(vec_id);
    *  - assignment broadcasts the model as an array literal → a codegen'd
    *    per-row argmax, zero shuffle (the MLlib pattern: ship the model
    *    to the data, never the data to the model);
    *  - update is posexplode + (cell, dim) mean — map-side partial agg
    *    makes the one shuffle k×d rows regardless of corpus size;
    *  - the k×d collect per iteration is sufficient statistics, not data
    *    (60 MB even at k=10⁴, d=768) — the one sanctioned driver action.
    *
    * Empty cells keep their previous centroid. Assignment maximizes
    * cosine (matching the IVF probe metric), so means are computed over
    * cosine-coherent cells.
    *
    * CONTRACT: embeddings are non-null, fixed-dimension arrays (every
    * vector has the seed vectors' length). `sum(v[i])` over a cell is
    * null only when EVERY member lacks component i — out of contract;
    * the read below coalesces that to 0 so a contract violation yields
    * a degenerate centroid component instead of a driver NPE. Mixed
    * dimensions also bias the mean (divided by cell count, not
    * per-component presence) — callers must normalize dims upstream.
    * @return the trained model: k centroid vectors, index = cell id */
  def kmeansCentroids(embeddings: DataFrame, k: Int,
                      maxIter: Int = 8, l2: Boolean = false): Seq[Seq[Double]] = {
    val e = embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .localCheckpoint(true)
    var cents: Seq[Seq[Double]] = e
      .withColumn("hk", xxhash64(col("vec_id")))
      .orderBy(col("hk"), col("vec_id")).limit(k)
      .select(col("v")).collect()
      .map(_.getSeq[Double](0)).toSeq
    // per-iteration update: ONE map-side-combinable hash aggregate of
    // `dims` componentwise sums + a count (k rows to the driver), not a
    // posexplode into n·dims (cell, i, x) rows + two shuffles — the
    // Lloyd constant was the dominant flat cost of every kmeans caller
    // at sweep scale (q108 sf1: the training loop, not the pair join)
    val dims = cents.headOption.map(_.length).getOrElse(0)
    for (_ <- 1 to maxIter) {
      val sums = (0 until dims).map(i => sum(col("v").getItem(i)))
      val updated = e
        .withColumn("cell",
          if (l2) nearestCellL2(col("v"), cents)
          else nearestCell(col("v"), cents))
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n"), sums: _*)
        .collect().map { r =>
          val n = r.getLong(1).toDouble
          r.getInt(0) -> (0 until dims).map(i =>
            if (r.isNullAt(i + 2)) 0.0 else r.getDouble(i + 2) / n)
        }.toMap
      cents = cents.indices.map(i => updated.getOrElse(i, cents(i)))
    }
    // the model is extracted — the training frame's checkpoint blocks
    // have no further reader (callers re-derive their own assignment
    // frame from `embeddings`)
    Snapshots.release(e)
    cents
  }

  /** IVF ANN over an UNLABELED corpus: train k-means centroids, assign
    * every vector to its nearest cell (per-row argmax — no shuffle),
    * then the standard nprobe probe. This is the 100 TB similarity-search
    * path: train on a sample, index in one pass, probe sub-linearly.
    *
    * Real-corpus recall@5 vs exact cosine (r17; near-uniform test
    * corpus — the hard case, clustered production corpora sit above;
    * full table in SCALE_AUDIT "float ANN dial tables"):
    * {{{
    * recall@5 (sf0.01 / sf0.1), iters=5:
    *   cells\nprobe     1           2           4           8
    *        8       0.40/0.26   0.52/0.50   0.74/0.78   1.00/1.00
    *       16       0.30/0.24   0.40/0.40   0.62/0.56   0.86/0.86
    * }}}
    * The q27 defaults (cells=8, nprobe=4) sit at the 0.74–0.78 point;
    * nprobe is the recall lever (candidate volume = nprobe/cells of
    * the corpus), cells the sub-linearity lever. */
  def ivfTopKTrained(embeddings: DataFrame, queries: DataFrame, k: Int,
                     cells: Int = 8, nprobe: Int = 2,
                     iters: Int = 8): DataFrame = {
    val model = kmeansCentroids(embeddings, cells, iters)
    val e = embeddings.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
      .withColumn("cell", nearestCell(col("v"), model))
    val session = embeddings.sparkSession
    import session.implicits._
    val centroids = model.zipWithIndex
      .map { case (c, i) => (i, c) }.toDF("cell", "centroid")
    ivfProbe(e, centroids, queries, k, nprobe)
  }

  /** Deterministic hyperplane w_p for sign-LSH: w_p[d] in [-0.5, 0.5)
    * derived from md5(p|d) — no RNG, reproducible across runs. Computed
    * ONCE driver-side per (planes, dims): round 1 derived the planes
    * inside the per-row expression via transform(sequence(...), d ->
    * ...md5...), which Catalyst does not constant-fold through the
    * higher-order function — every row re-hashed planes × dims times
    * (the q28 scale-killer in VERDICT r1). */
  private def planeVector(p: Int, dims: Int): Seq[Double] =
    (0 until dims).map(
      graft.functions.SignLshSignatures.planeComponent(p, _))

  /** Sign-random-projection LSH signature: bit p of the signature is the
    * sign of v·w_(planeOffset+p); the hyperplanes enter the plan as
    * array literals, so per row the work is `planes` codegen'd dot
    * products (identical values to round 1 — same md5 derivation, same
    * sequential sum). `planeOffset` selects a disjoint plane set, which
    * is how [[lshTopKMulti]] builds independent hash tables. */
  def lshSignature(v: Column, dims: Int, planes: Int,
                   planeOffset: Int = 0): Column =
    (0 until planes)
      .map(p => when(
        dot(v, typedLit(planeVector(planeOffset + p, dims))) > 0,
        shiftleft(lit(1L), p)).otherwise(0L))
      .reduce(_ + _)

  /** Single-table LSH-bucketed ANN: candidates share the full signature
    * bucket; exact rerank inside buckets. Recall is ungoverned — one
    * table misses any neighbor differing in any plane sign — so this is
    * a building block; [[lshTopKMulti]] is the production path. */
  def lshTopK(embeddings: DataFrame, queries: DataFrame, k: Int,
              planes: Int = 8, dims: Int = 64): DataFrame = {
    val sig = (df: DataFrame, idCol: String) => df
      .select(col("vec_id").as(idCol),
        col("embedding").cast("array<double>").as(s"v_$idCol"),
        lshSignature(col("embedding").cast("array<double>"), dims, planes)
          .as("bucket"))
    val e = sig(embeddings, "vec_id")
    val q = sig(queries, "query_id")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    e.join(broadcast(q), Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine", cosine(col("v_query_id"), col("v_vec_id")))
      // vectors out before the top-k window (see bruteForceTopK)
      .select(col("query_id"), col("vec_id"), col("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rank"))
  }

  /** Multi-table, multiprobe sign-LSH ANN with GOVERNED recall:
    * `tables` independent hash tables (disjoint plane sets via the
    * plane-index offset); a candidate is any vector whose bucket, in at
    * least one table, is within Hamming distance `probeBits` (0 or 1)
    * of the query's bucket in that table; exact cosine rerank over the
    * deduped union.
    *
    * For per-plane sign-agreement probability p = 1 − θ/π, a true
    * neighbor is found with probability 1 − (1 − P₁)^tables where
    * P₁ = p^planes (probeBits = 0) or p^planes + planes·p^(planes−1)(1−p)
    * (probeBits = 1): `tables` and `probeBits` are the recall dials,
    * `planes` the candidate-volume dial. Multiprobe only fans out the
    * QUERY side (planes+1 probe buckets per table), so it buys far more
    * recall per candidate row than extra tables, which re-signature the
    * whole corpus. Measured recall@10 ≥ 0.9 against the exact
    * brute-force answer on the real corpus is pinned in SimilaritySpec
    * — recall costs candidates when the neighbor structure is weak;
    * that tradeoff is the point of governing it.
    *
    * Scale shape: the fact side computes tables×planes codegen'd dot
    * products per row (one pass), the candidate join is an equi-join on
    * (table, bucket) — shuffle-hash-joinable at any scale, never a
    * cross product; dedup shuffles only candidate pairs.
    *
    * Real-corpus recall@5 vs exact cosine (r17; full table in
    * SCALE_AUDIT "float ANN dial tables"):
    * {{{
    * recall@5 (sf0.01 / sf0.1), planes=8:
    *   tables\probeBits      0           1
    *        8            0.18/0.20   0.62/0.64
    *       16            0.30/0.30   0.82/0.90
    *       24            0.40/0.36   0.92/0.96
    *       32            0.40/0.48   1.00/1.00
    * }}}
    * The q28 defaults (24×8 probe-1) sit at 0.92–0.96 — multiprobe
    * buys ~2.4× the recall of the same tables at probe-0, confirming
    * the query-side-fanout argument above. */
  def lshTopKMulti(embeddings: DataFrame, queries: DataFrame, k: Int,
                   planes: Int = 8, dims: Int = 64,
                   tables: Int = 24, probeBits: Int = 1): DataFrame = {
    require(probeBits == 0 || probeBits == 1,
      "probeBits: only Hamming radius 0 or 1 is supported")
    // All tables' signatures come from ONE SignLshSignatures expression
    // (array<long> of length `tables`, tight codegen loop over a
    // reference-object plane matrix). The composed per-plane Column form
    // inlined a 64-double literal per plane — 192 unrolled loops and
    // ~12k constants per projection at 24×8, seconds of janino compile
    // per plan, and the query side repeated that subtree in every probe
    // struct (216× at probe-1). Same buckets, same recall; the compile
    // cost was the q28 bench regression this replaces.
    val sigs = (v: Column) => graft.functions.VectorFunctions
      .lsh_signatures(v, tables, planes, dims)
    // fact side: one (table, bucket) row per table
    val e = embeddings.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
      .select(col("vec_id"), col("v"),
        posexplode(sigs(col("v"))).as(Seq("table", "bucket")))
    // query side: signatures materialize once per row in their own
    // projection (CollapseProject keeps the boundary — the alias is
    // non-cheap and referenced by every probe struct); the probe array
    // is then `tables` element_at lookups plus single-bit xors.
    val qSig = queries.select(col("vec_id").as("query_id"),
      col("embedding").cast("array<double>").as("qv"))
      .withColumn("sigs", sigs(col("qv")))
    def probes(t: Int): Seq[Column] = {
      val s = col("sigs").getItem(t)
      val flips = if (probeBits == 1)
        (0 until planes).map(b =>
          s.bitwiseXOR(lit(1L << b))) else Seq.empty
      (s +: flips).map(b => struct(lit(t).as("table"), b.as("bucket")))
    }
    val q = qSig
      .select(col("query_id"), col("qv"),
        explode(array((0 until tables).flatMap(probes): _*)).as("tb"))
      .select(col("query_id"), col("qv"),
        col("tb.table").as("table"), col("tb.bucket").as("bucket"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    e.join(broadcast(q), Seq("table", "bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .dropDuplicates("query_id", "vec_id") // union over tables & probes
      .withColumn("cosine", cosine(col("qv"), col("v")))
      // vectors out before the top-k window (see bruteForceTopK)
      .select(col("query_id"), col("vec_id"), col("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rank"))
  }
}
