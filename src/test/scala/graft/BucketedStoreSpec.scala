package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.io.BucketedStore
import graft.io.BucketedStore.{Store, StoreLayout}

/** Pins graft.io.BucketedStore — the shared layout-descriptor
  * management behind every persisted ingest store (r17): a fresh
  * session over an existing store must RE-REGISTER the bucketed
  * catalog table from the descriptor (keeping the co-located
  * merge-join plan), and appends must follow the FILES' layout, never
  * the session conf (a changed bucket knob must not mix moduli in one
  * directory). */
class BucketedStoreSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def freshStore(): (String, String) = {
    val dir = Files.createTempDirectory("graft_bstore").toString
    val path = s"$dir/store"
    (at(path, 8).table, path)
  }

  /** The store at `path` keyed on `key`, seeding `buckets`. */
  private def at(path: String, buckets: Int, key: String = "k"): Store =
    Store(path, StoreLayout(buckets, key, Seq(key)))

  private def rows(lo: Long, hi: Long) =
    (lo until hi).map(i => (i, s"v$i")).toDF("k", "payload")

  test("fresh session over an existing store: view re-registers from " +
    "the descriptor — bucketed scan (no store-side exchange in a " +
    "co-located join), same rows, catalog entry restored") {
    val (table, path) = freshStore()
    BucketedStore.append(rows(0, 100), at(path, 8))
    val before = BucketedStore.view(spark, at(path, 8)).get
      .orderBy(col("k")).as[(Long, String)].collect().toSeq
    spark.sql(s"DROP TABLE `$table`") // external: files survive
    assert(!spark.catalog.tableExists(table))
    val v = BucketedStore.view(spark, at(path, 8)).get
    assert(spark.catalog.tableExists(table), "view must re-register")
    assert(v.orderBy(col("k")).as[(Long, String)].collect().toSeq
      == before)
    // the whole point: a history-style join against the store plans
    // with the exchange on the BATCH side only
    val batch = rows(0, 10)
    val plan = batch.join(v.hint("merge"), Seq("k"), "left_anti")
      .queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), plan)
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      s"only the batch side may exchange:\n$plan")
  }

  test("appends follow the persisted layout, not the session conf: a " +
    "changed bucket knob cannot mix moduli in one store") {
    val (table, path) = freshStore()
    BucketedStore.append(rows(0, 50), at(path, 4))
    // catalog lost AND the caller now asks for a different bucket count
    spark.sql(s"DROP TABLE `$table`")
    BucketedStore.append(rows(50, 100), at(path, 16))
    // the descriptor wins: still 4 buckets, one consistent modulus
    val counts = graft.io.Layout.bucketFileCounts(spark, path)
    assert(counts.keys.forall(_ < 4),
      s"files outside the original 4-bucket layout: $counts")
    assert(BucketedStore.view(spark, at(path, 4)).get.count() == 100)
    // and mismatched KEYS are refused loudly, not silently re-keyed
    val ex = intercept[IllegalArgumentException] {
      BucketedStore.append(rows(100, 110), at(path, 4, "payload"))
    }
    assert(ex.getMessage.contains("keyed"))
  }

  test("compact: N appends accrete files per bucket; compact rewrites " +
    "to ONE file per bucket, preserves the row set, keeps the table " +
    "registered and appendable") {
    val (table, path) = freshStore()
    for (b <- 0 until 3)
      BucketedStore.append(rows(b * 20, (b + 1) * 20), at(path, 4))
    val pre = graft.io.Layout.bucketFileCounts(spark, path)
    assert(pre.values.max > 1, s"expected accreted files, got $pre")
    BucketedStore.compact(spark, at(path, 4))
    val post = graft.io.Layout.bucketFileCounts(spark, path)
    assert(post.nonEmpty && post.values.forall(_ == 1), post.toString)
    assert(spark.catalog.tableExists(table))
    assert(BucketedStore.view(spark, at(path, 4)).get
      .orderBy(col("k")).as[(Long, String)].collect().toSeq
      == (0L until 60L).map(i => (i, s"v$i")))
    BucketedStore.append(rows(60, 70), at(path, 4))
    assert(BucketedStore.view(spark, at(path, 4)).get.count() == 70)
    // compacting a store with no descriptor is refused with guidance
    val (_, p2) = freshStore()
    rows(0, 5).write.parquet(p2)
    val ex = intercept[IllegalStateException] {
      BucketedStore.compact(spark, at(p2, 4))
    }
    assert(ex.getMessage.contains("descriptor"))
  }

  test("an ingest job's history survives compaction: DedupIngestJob " +
    "still drops historic duplicates afterwards") {
    val dir = Files.createTempDirectory("graft_bstore_dedup").toString
    def docs(lo: Long, hi: Long, tag: String) =
      (lo until hi).map(i => (i, s"text $tag ${i % 10}"))
        .toDF("doc_id", "text")
    // 3 batches with overlapping content (i % 10 repeats per batch tag)
    assert(graft.jobs.DedupIngestJob.writeBatch(docs(0, 30, "a"), dir)
      == 10)
    assert(graft.jobs.DedupIngestJob.writeBatch(docs(30, 60, "b"), dir)
      == 10)
    graft.jobs.DedupIngestJob.compactStores(spark, dir)
    val counts = graft.io.Layout
      .bucketFileCounts(spark, s"$dir/content_hash")
    assert(counts.values.forall(_ == 1), counts.toString)
    // post-compaction: historic hashes still gate (batch "a" content
    // replayed under new ids admits nothing), fresh content still lands
    assert(graft.jobs.DedupIngestJob.writeBatch(docs(60, 90, "a"), dir)
      == 0)
    assert(graft.jobs.DedupIngestJob.writeBatch(docs(90, 120, "c"), dir)
      == 10)
  }

  test("legacy store (no descriptor) degrades to a plain read and is " +
    "upgraded in place by its next append") {
    val (table, path) = freshStore()
    // a pre-descriptor store: bucketed files, catalog + descriptor gone
    BucketedStore.append(rows(0, 30), at(path, 8))
    spark.sql(s"DROP TABLE `$table`")
    val lp = new java.io.File(s"${path}_layout")
    def del(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(del)); f.delete()
    }
    del(lp)
    assert(BucketedStore.loadLayout(spark, path).isEmpty)
    // view still answers (plain read), just unbucketed — and without a
    // descriptor it must NOT invent a catalog registration
    assert(BucketedStore.view(spark, at(path, 8)).get.count() == 30)
    assert(!spark.catalog.tableExists(table))
    // the next append re-creates table + descriptor under its conf
    BucketedStore.append(rows(30, 40), at(path, 8))
    assert(BucketedStore.loadLayout(spark, path).exists(_.buckets == 8))
    assert(BucketedStore.view(spark, at(path, 8)).get.count() == 40)
  }
}
