package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.io.BucketedStore
import graft.jobs.IvfPqIndexJob
import graft.sim.IvfPqInt

/** Pins graft.jobs.IvfPqIndexJob — the persisted build-once /
  * probe-many / ingest-incrementally serving shape of the q145 IVF-PQ
  * pipeline. The contract, per the LshIndex/SemanticIngest precedents:
  * a probe is ROW-IDENTICAL to the full in-job recompute on the same
  * frozen model (at build state that recompute IS ivfPqIntTopK, the
  * oracled q145 pipeline); ingest rides the frozen model and is
  * idempotent under replay; the probe plan pushes its cell keys into
  * the bucketed postings scan. */
class IvfPqIndexSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_ivfpq_idx").toString

  private def storeView(out: String, which: String) =
    BucketedStore.view(spark, IvfPqIndexJob.store(out, which))

  private lazy val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
  private lazy val q = e.filter(col("vec_id") < 10)

  private def rows(df: org.apache.spark.sql.DataFrame) = df
    .select(col("query_id"), col("neighbor_id"), col("dist"), col("rank"))
    .as[(Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._4)).toSeq

  test("probe at build state is row-identical to the full q145 " +
    "recompute (ivfPqIntTopK) at the same dials") {
    val out = tmp()
    IvfPqIndexJob.build(e, out)
    val fromIndex = rows(IvfPqIndexJob.probe(spark, out, q, k = 5))
    val recompute = rows(IvfPqInt.ivfPqIntTopK(e, q, k = 5))
    assert(fromIndex == recompute)
    assert(fromIndex.nonEmpty)
  }

  test("ingest through the frozen model: probe equals topKWithModel " +
    "over the concatenated corpus, and replayed batches append nothing") {
    val out = tmp()
    val first = e.filter(col("vec_id") < 25)
    val rest = e.filter(col("vec_id") >= 25)
    IvfPqIndexJob.build(first, out)
    val model = IvfPqIndexJob.loadModel(spark, out).get
    assert(IvfPqIndexJob.ingest(rest, out) == rest.count())
    val fromIndex = rows(IvfPqIndexJob.probe(spark, out, q, k = 5))
    // the reference: the SAME frozen (build-corpus) model applied to
    // the full corpus in one job — the index must never retrain
    val reference = rows(IvfPqInt.topKWithModel(e, q, model, k = 5))
    assert(fromIndex == reference)
    // a frozen model trained on a strict subset differs from the
    // full-corpus retrain, so this really did exercise frozen-model
    // assignment (guard against accidentally retraining in ingest)
    val postings0 = storeView(out, "postings").get.count()
    // replay: both batches again — nothing appends, probe unchanged
    assert(IvfPqIndexJob.ingest(rest, out) == 0L)
    assert(IvfPqIndexJob.ingest(first, out) == 0L)
    assert(storeView(out, "postings").get.count()
      == postings0)
    assert(rows(IvfPqIndexJob.probe(spark, out, q, k = 5)) == fromIndex)
  }

  test("probe scan pushes the cell-key filter into the bucketed " +
    "postings store; the index side never shuffles before the ADC join") {
    val out = tmp()
    IvfPqIndexJob.build(e, out)
    val plan = IvfPqIndexJob.probe(spark, out, q, k = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [In(cell"),
      s"expected In(cell, ...) pushed to the postings scan in:\n$plan")
    assert(plan.contains("SelectedBucketsCount"),
      s"postings scan must be bucket-pruned:\n$plan")
    // hash exchanges: the ADC window (query_id), the candidate side of
    // the vecs join (vec_id), the rerank window (query_id) — the
    // postings side reaches its join broadcast-only, the vecs side
    // through its bucketing
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges <= 3,
      s"expected only the window/candidate exchanges, got $exchanges:\n$plan")
  }

  test("out-of-index queries probe through the frozen quantizer (no " +
    "id-join requirement) and exclude nothing by id") {
    val out = tmp()
    val corpus = e.filter(col("vec_id") >= 10)
    IvfPqIndexJob.build(corpus, out)
    // query vectors NOT in the index: ids < 10 never ingested
    val got = rows(IvfPqIndexJob.probe(spark, out, q, k = 3))
    assert(got.nonEmpty)
    assert(got.forall(_._1 < 10) && got.forall(_._2 >= 10))
    assert(got.groupBy(_._1).values.forall(_.size == 3))
  }

  test("streaming file-drop ingest is restart-safe and equals direct " +
    "ingest (AvailableNow drains, checkpoint dedups the replay)") {
    val out = tmp()
    val inDir = tmp()
    val ckpt = tmp()
    IvfPqIndexJob.build(e.filter(col("vec_id") < 25), out)
    val batch = e.filter(col("vec_id") >= 25)
      .select(col("vec_id"), col("embedding").cast("array<double>")
        .as("embedding"))
    batch.coalesce(1).write.mode("overwrite").json(inDir)
    IvfPqIndexJob.runFiles(spark, inDir, out, ckpt).awaitTermination()
    val n = storeView(out, "vecs").get.count()
    assert(n == e.count())
    // restart over the same checkpoint: nothing new
    IvfPqIndexJob.runFiles(spark, inDir, out, ckpt).awaitTermination()
    assert(storeView(out, "vecs").get.count() == n)
  }

  test("ensureBuilt is build-once: an unchanged corpus reuses the " +
    "index (postings untouched), a rewritten corpus rebuilds, and an " +
    "ingest invalidates the fingerprint") {
    val out = tmp()
    val src = tmp()
    e.limit(20).write.mode("overwrite").parquet(src)
    def corpus = spark.read.parquet(src)
    IvfPqIndexJob.ensureBuilt(corpus, out)
    def postingsMtime(): Long = {
      val d = new java.io.File(s"$out/postings")
      d.listFiles().map(_.lastModified()).max
    }
    val t0 = postingsMtime()
    Thread.sleep(1100) // mtime granularity
    IvfPqIndexJob.ensureBuilt(corpus, out)
    assert(postingsMtime() == t0, "unchanged corpus must not rebuild")
    // corpus rewritten in place -> fingerprint stale -> rebuild
    e.limit(30).write.mode("overwrite").parquet(src)
    IvfPqIndexJob.ensureBuilt(corpus, out)
    assert(postingsMtime() > t0, "rewritten corpus must rebuild")
    assert(storeView(out, "vecs").get.count() == 30)
    // ingest grows the store past the build corpus: the fingerprint
    // must go with it, so ensureBuilt rebuilds rather than serving a
    // grown index as "current for the build corpus"
    val t1 = postingsMtime()
    IvfPqIndexJob.ingest(e.filter(col("vec_id") >= 40), out)
    Thread.sleep(1100)
    IvfPqIndexJob.ensureBuilt(corpus, out)
    assert(postingsMtime() > t1, "post-ingest ensureBuilt must rebuild")
    assert(storeView(out, "vecs").get.count() == 30)
  }

  private def assertProbePlanPins(out: String): Unit = {
    val plan = IvfPqIndexJob.probe(spark, out, q, k = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [In(cell"),
      s"expected In(cell, ...) pushed to the postings scan in:\n$plan")
    assert(plan.contains("SelectedBucketsCount"),
      s"postings scan must be bucket-pruned:\n$plan")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges <= 3,
      s"expected only the window/candidate exchanges, got $exchanges:\n$plan")
  }

  test("FRESH SESSION serving: with the catalog entries gone (files " +
    "intact), storeView re-registers from the persisted descriptor and " +
    "the probe keeps the bucket-pruned, exchange-free plan AND its rows") {
    val out = tmp()
    IvfPqIndexJob.build(e, out)
    val before = rows(IvfPqIndexJob.probe(spark, out, q, k = 5))
    // simulate a new SparkSession over the same on-disk index: the
    // session-scoped catalog is empty, the table locations survive
    Seq("postings", "vecs").foreach(w => spark.sql(
      s"DROP TABLE IF EXISTS `${IvfPqIndexJob.store(out, w).table}`"))
    assert(!spark.catalog.tableExists(IvfPqIndexJob.store(out, "postings").table))
    assertProbePlanPins(out)
    assert(rows(IvfPqIndexJob.probe(spark, out, q, k = 5)) == before)
    // and the re-registration stuck (next probes pay nothing)
    assert(spark.catalog.tableExists(IvfPqIndexJob.store(out, "postings").table))
  }

  test("ensureBuilt currency covers the RECIPE, not just the corpus: " +
    "different dials rebuild, same dials then reuse") {
    val out = tmp()
    val src = tmp()
    e.limit(20).write.mode("overwrite").parquet(src)
    def corpus = spark.read.parquet(src)
    def postingsMtime(): Long = {
      val d = new java.io.File(s"$out/postings")
      d.listFiles().map(_.lastModified()).max
    }
    IvfPqIndexJob.ensureBuilt(corpus, out)
    val t0 = postingsMtime()
    Thread.sleep(1100)
    // same corpus, different coarse-cell count: an index trained under
    // other parameters must never answer for these dials
    IvfPqIndexJob.ensureBuilt(corpus, out, cells = 4)
    assert(postingsMtime() > t0, "changed recipe must rebuild")
    assert(IvfPqIndexJob.loadModel(spark, out).get.coarse.size == 4)
    val t1 = postingsMtime()
    Thread.sleep(1100)
    IvfPqIndexJob.ensureBuilt(corpus, out, cells = 4)
    assert(postingsMtime() == t1, "unchanged recipe+corpus must reuse")
  }

  test("replay after a crash BETWEEN the two appends heals the store: " +
    "postings carry transient duplicates (probe dedupes them), vecs " +
    "complete, and the probe stays row-identical to the recompute") {
    val out = tmp()
    val first = e.filter(col("vec_id") < 25)
    val rest = e.filter(col("vec_id") >= 25)
    IvfPqIndexJob.build(first, out)
    val model = IvfPqIndexJob.loadModel(spark, out).get
    val buckets = IvfPqIndexJob.loadMeta(spark, out).get.buckets
    // the crash: ingest(rest) appended postings, died before vecs
    val codes = graft.sim.Quantize.quantize(rest, model.statsFrame(spark))
    BucketedStore.append(IvfPqIndexJob.encodePostings(codes, model),
      IvfPqIndexJob.store(out, "postings", buckets))
    // source replay: ids are absent from vecs (the guard store), so the
    // whole batch re-appends — postings now duplicated, vecs completed
    assert(IvfPqIndexJob.ingest(rest, out) == rest.count())
    val postings = storeView(out, "postings").get
    assert(postings.count() >
      postings.dropDuplicates(Seq("cell", "vec_id")).count(),
      "the simulation must actually produce duplicate postings rows")
    assert(storeView(out, "vecs").get
      .groupBy(col("vec_id")).count().filter(col("count") > 1).isEmpty,
      "vecs (the guard store) must never duplicate")
    val fromIndex = rows(IvfPqIndexJob.probe(spark, out, q, k = 5))
    assert(fromIndex == rows(IvfPqInt.topKWithModel(e, q, model, k = 5)))
    // a later FULL replay still appends nothing
    assert(IvfPqIndexJob.ingest(rest, out) == 0L)
  }

  test("compaction: N ingest batches accrete files per bucket; compact " +
    "rewrites to ONE file per bucket in both stores, probe rows and " +
    "plan pins unchanged, and later ingests still append") {
    val out = tmp()
    IvfPqIndexJob.build(e.filter(col("vec_id") < 20), out)
    IvfPqIndexJob.ingest(e.filter(col("vec_id") >= 20 &&
      col("vec_id") < 35), out)
    IvfPqIndexJob.ingest(e.filter(col("vec_id") >= 35 &&
      col("vec_id") < 50), out)
    val preCounts = graft.io.Layout.bucketFileCounts(spark, s"$out/postings")
    assert(preCounts.values.max > 1,
      s"ingest batches must accrete files per bucket, got $preCounts")
    val before = rows(IvfPqIndexJob.probe(spark, out, q, k = 5))
    val nPost = storeView(out, "postings").get.count()
    IvfPqIndexJob.compact(spark, out)
    for (w <- Seq("postings", "vecs")) {
      val counts = graft.io.Layout.bucketFileCounts(spark, s"$out/$w")
      assert(counts.nonEmpty && counts.values.forall(_ == 1),
        s"$w after compact: expected one file per bucket, got $counts")
    }
    assert(storeView(out, "postings").get.count()
      == nPost, "compaction must not change the row set")
    assert(rows(IvfPqIndexJob.probe(spark, out, q, k = 5)) == before)
    assertProbePlanPins(out)
    // the swapped-in table still takes appends in the same layout
    assert(IvfPqIndexJob.ingest(e.filter(col("vec_id") >= 50), out) > 0)
    val model = IvfPqIndexJob.loadModel(spark, out).get
    assert(rows(IvfPqIndexJob.probe(spark, out, q, k = 5)) ==
      rows(IvfPqInt.topKWithModel(e, q, model, k = 5)))
  }

  test("probing a missing index fails fast with guidance") {
    val ex = intercept[IllegalStateException] {
      IvfPqIndexJob.probe(spark, tmp(), q, k = 3)
    }
    assert(ex.getMessage.contains("build"))
  }
}
