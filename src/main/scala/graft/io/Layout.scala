package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Storage layout for scale (the 100 TB story): bucketed tables co-locate
  * both sides of the engine's hot joins so they plan with NO shuffle
  * exchange.
  *
  * The resolver join (outpoints ⋈ utxo on src_tx_hash) is the canonical
  * candidate: bucketed on the tx-hash key at write time, each resolve
  * would be a per-bucket sort-merge with zero network. VolTransferJob's
  * `utxo` table is not bucketed: it is an append-only directory (one
  * file per batch) that each batch scans through a broadcast semi-join
  * on the hashes its inputs name, so only the matching rows reach the
  * resolve; the bucketed ingest stores live in [[BucketedStore]].
  * Bucket counts are powers of two so a cluster can re-bucket by splitting
  * without rewriting everything.
  */
object Layout {

  /** Write `df` as a bucketed managed table (parquet under the session
    * warehouse). Sorted within buckets on the same key → merge join needs
    * no sort either. */
  def writeBucketed(df: DataFrame, table: String, buckets: Int,
                    keys: Seq[String]): Unit =
    df.write
      .mode("overwrite")
      .format("parquet")
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .saveAsTable(table)

  def read(spark: SparkSession, table: String): DataFrame =
    spark.table(table)

  /** One planned compaction group: content-derived id (md5 of the
    * sorted member list — stable across re-plans of the same files, so
    * overwrite-on-retry is safe and two DIFFERENT plans into one
    * directory never clobber each other), member paths, total size. */
  final case class CompactionGroup(group: String, files: Seq[String],
                                   bytes: Long)

  /** Small-file compaction plan for a parquet directory: first-fit-
    * decreasing bin packing of data files into groups of ≈`targetBytes`.
    * Streaming sinks and partition-granular upserts (RollupJob,
    * DedupIngestJob) accrete small files; at 100 TB unplanned scans of
    * millions of sub-MB files are dominated by open/footer overhead, so
    * periodic compaction is part of the engine's operational surface.
    *
    * Planning is driver-side over the FILE LISTING only (names + sizes
    * from the Hadoop FileSystem — the same metadata any scan already
    * lists; never the data). Files ≥ targetBytes are already compact and
    * are left alone, and a bin that ends up with a single file is not
    * emitted either — callers rewrite only returned groups.
    *
    * Deterministic: files sort by (size desc, path) before packing. */
  def compactionPlan(spark: SparkSession, dir: String,
                     targetBytes: Long): Seq[CompactionGroup] = {
    require(targetBytes > 0, "targetBytes must be positive")
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(p).toSeq
      .filter(s => s.isFile && s.getLen > 0 &&
        s.getPath.getName.endsWith(".parquet"))
      .map(s => (s.getPath.toString, s.getLen))
      .filter(_._2 < targetBytes)
      .sortBy { case (path, len) => (-len, path) }
    // first-fit-decreasing into bins capped at targetBytes
    val bins = scala.collection.mutable.ArrayBuffer
      .empty[(scala.collection.mutable.ArrayBuffer[String], Long)]
    for ((path, len) <- files) {
      bins.indexWhere(_._2 + len <= targetBytes) match {
        case -1 =>
          bins += ((scala.collection.mutable.ArrayBuffer(path), len))
        case i =>
          val (b, tot) = bins(i); b += path; bins(i) = (b, tot + len)
      }
    }
    // a group of one file is a rename, not a compaction — skip it
    bins.toSeq.collect {
      case (paths, tot) if paths.size > 1 =>
        val id = java.security.MessageDigest.getInstance("MD5")
          .digest(paths.sorted.mkString("\n").getBytes("UTF-8"))
          .take(8).map("%02x".format(_)).mkString
        CompactionGroup(id, paths.toSeq, tot)
    }
  }

  /** Files per bucket id for a Spark-bucketed table directory — the
    * audit that tells an operator (or a scheduled maintenance job)
    * when a bucketed store needs compaction: appends accrete one file
    * set per batch per bucket, the scan tax is per-file, and Spark
    * only trusts a bucketed table's SORTED BY metadata when a bucket
    * has exactly ONE file. Driver-side over the file listing only
    * (the bucket id is encoded in the file name by every Spark
    * bucketed write: `part-…_00003.c000…` → bucket 3). */
  def bucketFileCounts(spark: SparkSession, dir: String): Map[Int, Int] = {
    val bucketId = """_(\d{5})(?:\.|$)""".r
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).toSeq
      .filter(s => s.isFile && s.getLen > 0 &&
        s.getPath.getName.startsWith("part-"))
      .flatMap(s => bucketId.findFirstMatchIn(s.getPath.getName)
        .map(_.group(1).toInt))
      .groupBy(identity).map { case (b, fs) => (b, fs.size) }
  }

  /** Execute a compaction plan: each group's files are read together and
    * rewritten as ONE file into `outDir` (coalesce(1) per group — the
    * point of the exercise). Each group is a one-task job, so the
    * parallelism has to come from CONCURRENT job submission: groups are
    * dispatched as Futures over a bounded pool (Spark's scheduler is
    * thread-safe and runs jobs from different threads concurrently).
    * A serial foreach would run a 10k-group compaction as 10k
    * back-to-back single-task jobs, idling the cluster. Source files
    * are NOT deleted — swap-in is the caller's transactional concern
    * (at 100 TB that's a metastore/table-format commit, not a
    * filesystem mutation). */
  def compact(spark: SparkSession, plan: Seq[CompactionGroup],
              outDir: String, maxConcurrent: Int = 8): Unit = {
    import java.util.concurrent.{Executors, TimeUnit}
    import scala.concurrent.duration.Duration
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.util.Try
    val pool = Executors.newFixedThreadPool(
      math.max(1, math.min(maxConcurrent, plan.size)))
    implicit val ec: ExecutionContext =
      ExecutionContext.fromExecutorService(pool)
    try {
      // overwrite per group directory: a retried plan is idempotent
      // instead of silently doubling already-written groups
      val jobs = plan.map { g =>
        Future {
          spark.read.parquet(g.files: _*)
            .coalesce(1)
            .write.mode("overwrite").parquet(s"$outDir/group=${g.group}")
        }
      }
      // Collect every outcome (no fail-fast abandon): all in-flight
      // writes finish or fail before we return/throw, so a caller that
      // observes the error observes a quiesced outDir.
      val outcomes =
        Await.result(Future.sequence(jobs.map(_.transform(Try(_)))),
                     Duration.Inf)
      outcomes.collectFirst { case scala.util.Failure(e) => e }
        .foreach(throw _)
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, TimeUnit.HOURS)
    }
  }
}
