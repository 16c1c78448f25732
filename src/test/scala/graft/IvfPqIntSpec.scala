package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sim.IvfPqInt

/** Pins graft.sim.IvfPqInt (q145) — the integer-exact IVF-PQ (IVFADC)
  * retrieval path composing the q140 coarse machinery with q143's
  * residual-subspace quantization. Cross-engine value correctness is
  * the DuckDB oracle's job (CORRECTNESS q145); here we pin retrieval
  * semantics on a corpus whose right answer is known by construction,
  * the exactness of the reranked metric, determinism, recall on the
  * real corpus, the tiny-corpus edges, and the no-new-fallback plan
  * invariant. */
class IvfPqIntSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  // three well-separated clusters of 8 vectors each (the PqIntSpec
  // corpus: dims = 8, jitter ≪ cluster separation)
  private lazy val embeddings = (0 until 24).map { id =>
    val base = (id / 8) * 100.0
    val v = Array.tabulate(8)(d => (base + (id % 8) * 0.5 + d * 0.1).toFloat)
    (id.toLong, v, id / 8)
  }.toDF("vec_id", "embedding", "label")

  /** Brute-force exact integer top-k over the replicated uint8 codes. */
  private def exactTopK(queries: Seq[Long], k: Int): Seq[(Long, Long, Long, Long)] = {
    val raw = (0 until 24).map { id =>
      Array.tabulate(8)(d =>
        ((id / 8) * 100.0 + (id % 8) * 0.5 + d * 0.1).toFloat.toDouble)
    }
    val mn = Array.tabulate(8)(d => raw.map(_(d)).min)
    val mx = Array.tabulate(8)(d => raw.map(_(d)).max)
    val codes = raw.map(v => Array.tabulate(8) { d =>
      if (mx(d) == mn(d)) 0L
      else java.math.BigDecimal.valueOf((v(d) - mn(d)) / (mx(d) - mn(d)) * 255.0)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
    })
    def l2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    queries.flatMap { q =>
      (0 until 24).filter(_ != q).map(v =>
        (v.toLong, l2(codes(q.toInt), codes(v))))
        .sortBy { case (id, d) => (d, id) }.take(k).zipWithIndex
        .map { case ((id, d), r) => (q, id, d, (r + 1).toLong) }
    }
  }

  test("all cells probed + full-depth rerank: the result IS the " +
    "brute-force exact integer top-k (rerank metric exact, ties to " +
    "lower id — residual quantization cannot lose a candidate)") {
    val got = IvfPqInt
      .ivfPqIntTopK(embeddings,
        embeddings.filter(col("vec_id").isin(0L, 9L)), k = 3,
        cells = 2, nprobe = 2, subspaces = 2, cents = 3, rerank = 23)
      .as[(Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._4)).toSeq
    assert(got == exactTopK(Seq(0L, 9L), 3))
  }

  test("deterministic across runs") {
    def run() = IvfPqInt
      .ivfPqIntTopK(embeddings, embeddings.filter(col("vec_id") < 2),
        k = 4, cells = 3, nprobe = 2, subspaces = 2, cents = 3,
        rerank = 8)
      .as[(Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._4)).toSeq
    assert(run() == run())
  }

  test("real corpus: full dials (all cells probed, corpus-deep " +
    "rerank) reproduce the exact integer top-5 EXACTLY; the default " +
    "operating point holds its measured recall floor") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.01")
    val q = e.filter(col("vec_id") < 10)
    // exact integer top-5 over the same quantized codes
    val codes = graft.sim.Quantize
      .quantize(e, graft.sim.Quantize.dimStats(e))
    val n = codes.count().toInt
    val qc = codes.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("codes").as("qcodes"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("dist").asc, col("vec_id").asc)
    val exact = codes.crossJoin(broadcast(qc))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("dist", graft.sim.IvfInt.l2sq(col("qcodes"), col("codes")))
      .select(col("query_id"), col("vec_id"), col("dist"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("vec_id"))
      .as[(Long, Long)].collect().toSet
    // full dials: every cell probed, every candidate reranked — the
    // residual-PQ layer must be a pure candidate-ORDERING layer that
    // cannot change the reranked answer
    val full = IvfPqInt.ivfPqIntTopK(e, q, k = 5, nprobe = 8, rerank = n)
      .select(col("query_id"), col("neighbor_id"))
      .as[(Long, Long)].collect().toSet
    assert(full == exact)
    // default operating point (r16: nprobe=4, rerank=100 — the dial
    // sweep's ≥0.5-real-corpus-recall pick, SCALE_AUDIT "q145 dial
    // table"): measured 0.68 here at sf0.01 and 0.50 at
    // sf0.1 on this synthetic near-uniform corpus (the HARD case for
    // any quantized index: distances concentrate at d=64). The pin is
    // the stated target the defaults were chosen to clear; real
    // embedding corpora cluster and sit above it.
    val got = IvfPqInt.ivfPqIntTopK(e, q, k = 5)
      .select(col("query_id"), col("neighbor_id"))
      .as[(Long, Long)].collect().toSet
    val recall = got.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall@5 = $recall")
  }

  test("corpus smaller than cells AND cents still answers (seed draws " +
    "return what exists; LUT strides by actual codebook size)") {
    val tiny = embeddings.filter(col("vec_id") < 5)
    val got = IvfPqInt
      .ivfPqIntTopK(tiny, tiny.filter(col("vec_id") === 0L), k = 3,
        cells = 8, nprobe = 8, subspaces = 2, cents = 8, rerank = 4)
      .as[(Long, Long, Long, Long)].collect()
    assert(got.length == 3 && got.forall(_._1 == 0L) &&
      !got.map(_._2).contains(0L))
  }

  test("empty corpus returns the empty typed frame") {
    val empty = embeddings.filter(col("vec_id") < 0)
    assert(IvfPqInt.ivfPqIntTopK(empty, empty, k = 3).count() == 0)
  }

  test("q145's build ∪ exec plans carry nothing beyond the quantizer " +
    "set (assignment, residual, encode, scoring all ride kernels)") {
    val fb = graft.plans.FallbackInventory.fallbacksWithBuild(spark)(
      SparkEntry.queries("q145_ivfpq_int_ann")(
        spark, "/root/testdata/sf0.001")).toSet
    val allowed = graft.plans.FallbackAllowlist.entries("q145_ivfpq_int_ann")
    assert((fb -- allowed).isEmpty, s"unexpected fallbacks: ${fb -- allowed}")
  }
}
