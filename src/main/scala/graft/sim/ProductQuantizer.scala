package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization — the memory-bound ANN path: at 100 TB of
  * embeddings the limit is not compute but bytes per vector (a 64-dim
  * float64 vector is 512 B; its PQ code is `subspaces` bytes + one
  * norm). The corpus is scanned as codes, scored by table lookup, and
  * only a top-R candidate set ever touches full vectors again.
  *
  *  - train: an independent codebook per subspace — k centroids over
  *    that slice of the corpus (deterministic Lloyd's, all subspaces
  *    fused into one pass per iteration; model size subspaces·k·subDim
  *    doubles).
  *  - encode: per subspace, the argmin-L2 centroid index — a codegen'd
  *    per-row argmin over codebook literals, zero shuffle; the exact
  *    vector norm rides along so cosine denominators stay exact.
  *  - search (ADC): per query, ONE lookup table of q·centroid inner
  *    products per subspace (subspaces·k doubles, computed once per
  *    query row); scoring a corpus vector is `subspaces` array lookups
  *    instead of `dims` multiplies, over 8-byte codes instead of 512-B
  *    vectors. Approximate by construction; optional exact rerank of
  *    the top-R ADC candidates joins the candidate ids (not the corpus)
  *    back to full vectors.
  *
  * Quantization error analysis and measured recall (with and without
  * rerank) are pinned in ProductQuantizerSpec.
  */
object ProductQuantizer {

  /** codebooks(m)(j) = centroid j of subspace m (subDim doubles). */
  case class Model(subspaces: Int, subDim: Int,
                   codebooks: Seq[Seq[Seq[Double]]])

  /** All subspaces train TOGETHER: each Lloyd's iteration is ONE pass
    * over the corpus — per row, every subspace's argmin-L2 cell is a
    * codegen'd expression, and the (subspace, cell, dim) means come
    * back in a single subspaces·k·subDim-row aggregate (sufficient
    * statistics, the k-means collect contract). A per-subspace loop
    * over [[Similarity.kmeansCentroids]] computes the same codebooks
    * but costs subspaces× the passes — 48 driver jobs for 8×3 — which
    * was q65's entire wall time. Seeding matches kmeansCentroids
    * (min-xxhash rows, sliced per subspace); assignment is L2 because
    * subspace slices carry magnitude. Empty cells keep their previous
    * centroid. */
  def train(embeddings: DataFrame, subspaces: Int = 8, k: Int = 16,
            dims: Int = 64, iters: Int = 5): Model = {
    require(dims % subspaces == 0, s"$subspaces subspaces must tile $dims")
    val subDim = dims / subspaces
    val e = embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .localCheckpoint(true)
    val seeds = e.withColumn("hk", xxhash64(col("vec_id")))
      .orderBy(col("hk"), col("vec_id")).limit(k)
      .select(col("v")).collect().map(_.getSeq[Double](0)).toSeq
    var books: Seq[Seq[Seq[Double]]] = (0 until subspaces).map(m =>
      seeds.map(_.slice(m * subDim, (m + 1) * subDim)))
    for (_ <- 1 to iters) {
      val cells = graft.functions.VectorFunctions.pq_codes(col("v"), books)
      val updated = e.select(col("v"), cells.as("cells"))
        .select(posexplode(col("v")).as(Seq("i", "x")), col("cells"))
        .select((col("i") / subDim).cast("int").as("m"),
          pmod(col("i"), lit(subDim)).cast("int").as("d"),
          element_at(col("cells"),
            (col("i") / subDim).cast("int") + 1).as("cell"),
          col("x"))
        .groupBy(col("m"), col("cell"), col("d"))
        .agg(avg(col("x")).as("mean"))
        .collect()
        .groupBy(r => (r.getInt(0), r.getInt(1)))
        .map { case (key, rows) =>
          key -> rows.sortBy(_.getInt(2)).map(_.getDouble(3)).toSeq
        }
      books = books.zipWithIndex.map { case (book, m) =>
        book.indices.map(j => updated.getOrElse((m, j), book(j)))
      }
    }
    Model(subspaces, subDim, books)
  }

  /** (vec_id, codes array<int>, norm double) — the persisted form of
    * the corpus: subspaces bytes of code + 8 B of norm per vector.
    * Codes come from the [[graft.functions.PqCodes]] codegen argmin
    * (ties to the lowest centroid index — deterministic encode). */
  def encode(embeddings: DataFrame, model: Model): DataFrame = {
    val v = col("embedding").cast("array<double>")
    embeddings.select(col("vec_id"),
      graft.functions.VectorFunctions.pq_codes(v, model.codebooks)
        .as("codes"),
      // round-15: |v|² as the codegen'd dot(v,v) — identical index-order
      // accumulation to the aggregate(transform(sq)) fold it replaces
      // (bit-equal), minus one interpreted lambda frame per dim per
      // CORPUS row (encode runs corpus-wide)
      sqrt(graft.functions.VectorFunctions.dot_product(v, v)).as("norm"))
  }

  /** ADC cosine top-k: codes-only scan, per-query lookup tables, exact
    * denominator from stored norms; `rerank > 0` re-scores that many
    * ADC candidates per query with the exact cosine (joining candidate
    * ids back to `embeddings`) before taking k.
    *
    * Real-corpus recall@5 vs exact cosine (r17; subspaces=8, iters=3,
    * dims=64; full table in SCALE_AUDIT "float ANN dial tables"):
    * {{{
    * recall@5 (sf0.01 / sf0.1):
    *   codebook k\rerank    0           20          50          100
    *       16           0.24/0.12   0.52/0.24   0.72/0.44   0.90/0.52
    *       32           0.26/0.14   0.64/0.40   0.74/0.66   0.88/0.78
    * }}}
    * Recall at fixed rerank FALLS as the corpus grows (more ADC
    * collisions ahead of the cut), and rerank is nearly free here
    * (wall flat 0.4–0.7 s across the whole row — per-query exact
    * rescores of `rerank` ids): q65 runs k=32, rerank=100 (moved from
    * 50 in r17, the q145 cost-neutral-dial precedent).
    * @return (query_id, neighbor_id, rank) */
  def adcTopK(codes: DataFrame, queries: DataFrame, k: Int, model: Model,
              embeddings: DataFrame = null, rerank: Int = 0): DataFrame = {
    val qv = col("embedding").cast("array<double>")
    // per-query LUTs: lut(m)(j) = q_m · c_(m,j); one flat array of
    // subspaces·k entries, addressed as m·k + code
    val bookSize = model.codebooks.head.length
    val lut = flatten(array(model.codebooks.zipWithIndex.map {
      case (book, m) =>
        transform(typedLit(book), c =>
          aggregate(zip_with(
            slice(qv, m * model.subDim + 1, model.subDim), c,
            (x, y) => x * y), lit(0.0), (acc, v) => acc + v))
    }: _*))
    val q = queries.select(col("vec_id").as("query_id"), lut.as("lut"),
      sqrt(graft.functions.VectorFunctions.dot_product(qv, qv))
        .as("qnorm"))
    val ip = (0 until model.subspaces).map(m =>
      element_at(col("lut"),
        lit(m * bookSize) + col("codes").getItem(m) + 1))
      .reduce(_ + _)
    val scored = codes.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        (ip / (col("qnorm") * col("norm"))).as("adc_cosine"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("adc_cosine").desc, col("vec_id").asc)
    if (rerank <= 0)
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          col("rank"))
    else {
      require(embeddings != null, "rerank needs the full vectors")
      val cand = scored.withColumn("r0", row_number().over(w))
        .filter(col("r0") <= rerank)
        .select(col("query_id"), col("vec_id"))
      val e = embeddings.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      val qe = queries.select(col("vec_id").as("query_id"),
        col("embedding").cast("array<double>").as("qv2"))
      val wx = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("vec_id").asc)
      cand.join(e, Seq("vec_id"))
        .join(broadcast(qe), Seq("query_id"))
        .withColumn("cosine", graft.functions.VectorFunctions
          .cosine_sim(col("qv2"), col("v")))
        // vectors out before the rerank window (Similarity
        // .bruteForceTopK discipline)
        .select(col("query_id"), col("vec_id"), col("cosine"))
        .withColumn("rank", row_number().over(wx))
        .filter(col("rank") <= k)
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          col("rank"))
    }
  }
}
