package graft.tools

import org.apache.spark.sql.functions._

/** Incremental-ingest throughput: drives the batch cores of ALL SEVEN
  * ingest jobs — [[graft.jobs.DedupIngestJob]] (exact content-hash
  * store), [[graft.jobs.SegmentIngestJob]] (w-word segment store),
  * [[graft.jobs.NearDupIngestJob]] (MinHash band-bucket store),
  * [[graft.jobs.SubstringIngestJob]] (k-gram scrub store),
  * [[graft.jobs.CorpusIngestJob]] (the gated funnel over hash+scrub
  * stores), [[graft.jobs.SemanticIngestJob]] (frozen-model cell
  * store) and [[graft.jobs.IvfPqIndexJob]] (frozen-model IVF-PQ
  * postings/code store; batch 0 builds, the rest ingest)
  * — for B successive micro-batches of N synthetic docs each,
  * printing per-batch wall and overall docs/s. This is the regression
  * line for the 100 TB continuous-curation story (the streaming
  * RawPersistJob line covers the socket/parse path; this covers the
  * dedup-at-ingest path), and the per-batch column is the evidence the
  * bucketed stores keep batch cost ~flat as the store grows — round 10
  * measured 2 of the 6 and the flat-curve check caught a real
  * re-broadcast-the-store scale bug; round 11 extends the line to the
  * other four. Documented caveat: plain-parquet appends add one file
  * per bucket per batch, so the store-read constant creeps with batch
  * COUNT (a real deployment compacts; see graft.io.BucketedStore).
  *
  * Docs: ~40 words each; `dupFrac` of each batch duplicates content
  * from batch 0 (cross-batch dups the store must catch), the rest are
  * unique. doc_ids are globally increasing (the SegmentIngestJob
  * contract). The semantic job ingests 16-dim vectors derived from the
  * same seeds (duplicate seeds ⇒ identical vectors the frozen-cell
  * store must catch).
  *
  * Usage: runMain graft.tools.IngestThroughputBench
  *          [batches] [docsPerBatch] [dupFrac] [job1,job2,…]
  */
object IngestThroughputBench {
  def main(args: Array[String]): Unit = {
    val batches = args.headOption.map(_.toInt).getOrElse(8)
    val perBatch = args.drop(1).headOption.map(_.toInt).getOrElse(25000)
    val dupFrac = args.drop(2).headOption.map(_.toDouble).getOrElse(0.3)
    val jobs = args.drop(3).headOption.map(_.split(",").toSeq).getOrElse(
      Seq("dedup", "segment", "neardup", "substring", "corpus",
        "semantic", "ivfpq"))
    val spark = graft.GraftSession.builder(graft.GraftSession.cpus)
      // diagnosis knob: SPARK_GRAFT_ABJT=-1 disables broadcast joins,
      // isolating "store gets re-broadcast per batch" growth from
      // file-count / scan growth
      .config("spark.sql.autoBroadcastJoinThreshold",
        sys.env.getOrElse("SPARK_GRAFT_ABJT", "10485760"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // ~40-word docs; duplicate rows re-derive batch-0 content exactly
    def batchDf(b: Int) = {
      val lo = b.toLong * perBatch
      val dupCut = (perBatch * dupFrac).toLong
      spark.range(lo, lo + perBatch).toDF("doc_id")
        .withColumn("seed",
          when(col("doc_id") - lo < dupCut && lit(b) > 0,
            col("doc_id") - lo) // batch-0 content ⇒ cross-batch dup
            .otherwise(col("doc_id")))
        .select(col("doc_id"), concat_ws(" ",
          transform(sequence(lit(0), lit(39)),
            i => concat(lit("w"), pmod(col("seed") * 40 + i, lit(99991)),
              lit("x"), col("seed")))).as("text"))
    }

    // 16-dim vectors from the same seed trick: duplicate seeds derive
    // byte-identical embeddings, so the frozen-cell store must drop them
    def vecDf(b: Int) = {
      val lo = b.toLong * perBatch
      val dupCut = (perBatch * dupFrac).toLong
      spark.range(lo, lo + perBatch).toDF("vec_id")
        .withColumn("seed",
          when(col("vec_id") - lo < dupCut && lit(b) > 0,
            col("vec_id") - lo)
            .otherwise(col("vec_id")))
        .select(col("vec_id"), transform(sequence(lit(0), lit(15)),
          i => pmod(col("seed") * 31 + i * 7, lit(1000)).cast("double")
            / 1000.0).as("embedding"))
    }

    for (job <- jobs) {
      val out = java.nio.file.Files
        .createTempDirectory(s"graft_ingest_$job").toString
      var total = 0L
      var totalSec = 0.0
      val perBatchSec = (0 until batches).map { b =>
        val df = batchDf(b)
        val t0 = System.nanoTime()
        val n = job match {
          case "dedup" => graft.jobs.DedupIngestJob.writeBatch(df, out)
          case "neardup" => graft.jobs.NearDupIngestJob.writeBatch(df, out)
          case "substring" =>
            graft.jobs.SubstringIngestJob.writeBatch(df, out)
          case "corpus" => graft.jobs.CorpusIngestJob.writeBatch(df, out,
            langs = Seq("en", "und"), qualityFloor = 0.0)
          case "semantic" => graft.jobs.SemanticIngestJob.writeBatch(
            vecDf(b), out,
            // history scoring is O(batch × same-cell store): the cell
            // count is THE scale lever (frozen at first batch). The
            // bench knows its full corpus size, so it exercises the
            // freeze-time sizing contract (expectedCorpus raises the
            // cell count to the flat regime); SPARK_GRAFT_INGEST_
            // EXPECTED=-1 reproduces the unsized foot-gun for A/B.
            clusters = sys.env.getOrElse("SPARK_GRAFT_INGEST_CLUSTERS",
              "8").toInt,
            threshold = 0.95,
            expectedCorpus = sys.env.get("SPARK_GRAFT_INGEST_EXPECTED")
              .map(_.toLong)
              .getOrElse(batches.toLong * perBatch))
          case "ivfpq" =>
            // an index stores every vector (dedup is the semantic
            // store's job): batch 0 trains + builds, the rest ride the
            // frozen model; per-batch cost must stay flat as the
            // postings/vecs stores grow (only the batch side shuffles)
            val vdf = vecDf(b)
            if (b == 0) {
              graft.jobs.IvfPqIndexJob.build(vdf, out,
                subspaces = 4) // 16 dims -> 4 subspaces of 4
              vdf.count()
            } else graft.jobs.IvfPqIndexJob.ingest(vdf, out)
          case _ => graft.jobs.SegmentIngestJob.writeBatch(df, out)
        }
        val dt = (System.nanoTime() - t0) / 1e9
        total += n; totalSec += dt
        dt
      }
      println(f"[ingest] $job%-8s batches=$batches perBatch=$perBatch " +
        f"dupFrac=$dupFrac fresh=$total " +
        f"docs/s=${batches.toLong * perBatch / totalSec}%.0f " +
        "perBatchSec=" + perBatchSec.map(t => f"$t%.1f").mkString(","))
    }
    spark.stop()
  }
}
