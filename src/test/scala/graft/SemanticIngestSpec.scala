package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.io.BucketedStore
import graft.jobs.SemanticIngestJob
import graft.dedup.SemanticDedup

class SemanticIngestSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_sem_ingest").toString

  private def history(out: String) =
    BucketedStore.history(spark, SemanticIngestJob.vectorStore(out))

  // two tight cosine families (a*, b*) plus loners; ids increase
  // across batches (the append-only ingest contract)
  private def vec(xs: Double*): Array[Double] = xs.toArray
  private lazy val batch1 = Seq(
    (1L, vec(1.0, 0.02, 0.0, 0.0)),   // a-family canonical
    (2L, vec(0.0, 1.0, 0.02, 0.0)),   // b-family canonical
    (3L, vec(0.99, 0.05, 0.0, 0.0)),  // a-dup of 1 (in-batch)
    (4L, vec(0.0, 0.0, 0.0, 1.0))     // loner
  ).toDF("vec_id", "embedding")
  private lazy val batch2 = Seq(
    (10L, vec(0.98, 0.03, 0.01, 0.0)), // a-dup of 1 (cross-batch)
    (11L, vec(0.01, 0.99, 0.03, 0.0)), // b-dup of 2 (cross-batch)
    (12L, vec(0.0, 0.0, 1.0, 0.0)),    // new loner
    (13L, vec(0.01, 0.98, 0.05, 0.0))  // b-dup of 2 AND near 11
  ).toDF("vec_id", "embedding")

  test("two-batch ingest verdicts equal the batch operator with the " +
    "frozen model over the concatenated corpus") {
    val out = tmp()
    assert(SemanticIngestJob.writeBatch(batch1, out, clusters = 3,
      threshold = 0.95) == 4)
    assert(SemanticIngestJob.writeBatch(batch2, out, clusters = 3,
      threshold = 0.95) == 4)
    val model = SemanticIngestJob.loadModel(spark, out).get
    val store = history(out).get
      .select(col("vec_id"), col("cell"), col("dup_of"), col("kept"))
      .as[(Long, Int, Option[Long], Boolean)].collect().sortBy(_._1).toList
    val batch = SemanticDedup.semanticDedupWithModel(
      batch1.union(batch2), model, threshold = 0.95)
      .select(col("vec_id"), col("cluster"), col("dup_of"), col("kept"))
      .as[(Long, Int, Option[Long], Boolean)].collect().sortBy(_._1).toList
    assert(store == batch,
      s"incremental: $store\nbatch:       $batch")
    // the planted structure: cross-batch dups resolve to the earliest
    // family member, never to a later in-batch twin
    val m = store.map(r => r._1 -> r._3).toMap
    assert(m(3L) == Some(1L) && m(10L) == Some(1L))
    assert(m(11L) == Some(2L) && m(13L) == Some(2L))
    assert(m(1L).isEmpty && m(2L).isEmpty && m(4L).isEmpty &&
      m(12L).isEmpty)
  }

  test("replay idempotence: re-ingesting a processed batch appends " +
    "nothing and verdicts stand") {
    val out = tmp()
    assert(SemanticIngestJob.writeBatch(batch1, out, 3, 0.95) == 4)
    assert(SemanticIngestJob.writeBatch(batch2, out, 3, 0.95) == 4)
    assert(SemanticIngestJob.writeBatch(batch2, out, 3, 0.95) == 0)
    val store = history(out).get
    assert(store.count() == 8)
    assert(store.filter(col("kept")).select("vec_id").as[Long]
      .collect().toSet == Set(1L, 2L, 4L, 12L))
  }

  test("dropped history still dominates later arrivals (the store " +
    "holds all vectors, not just survivors)") {
    val out = tmp()
    // cosine chain at 18° steps: cos(A,B) = cos(B,C) ≈ 0.951 ≥ 0.95
    // but cos(A,C) = cos 36° ≈ 0.809 < 0.95 — so C's ONLY dominator is
    // B, which was itself dropped as A's duplicate. Batch semantics
    // still drop C (dup_of = 2); a kept-only store would wrongly
    // admit it.
    val b1 = Seq(
      (1L, vec(1.0, 0.0, 0.0, 0.0)),          // A
      (2L, vec(0.951057, 0.309017, 0.0, 0.0)), // B = A rotated 18°
      (3L, vec(0.0, 0.0, 1.0, 0.0))            // far loner
    ).toDF("vec_id", "embedding")
    val b2 = Seq(
      (20L, vec(0.809017, 0.587785, 0.0, 0.0)) // C = A rotated 36°
    ).toDF("vec_id", "embedding")
    assert(SemanticIngestJob.writeBatch(b1, out, 2, 0.95) == 3)
    assert(SemanticIngestJob.writeBatch(b2, out, 2, 0.95) == 1)
    val m = history(out).get
      .select(col("vec_id"), col("dup_of")).as[(Long, Option[Long])]
      .collect().toMap
    assert(m(2L) == Some(1L) && m(20L) == Some(2L), m.toString)
    val model = SemanticIngestJob.loadModel(spark, out).get
    val batch = SemanticDedup.semanticDedupWithModel(
      b1.union(b2), model, 0.95)
      .select(col("vec_id"), col("dup_of")).as[(Long, Option[Long])]
      .collect().toMap
    assert(m(20L) == batch(20L))
  }

  test("bucketed store: the history join plans with no exchange on " +
    "the store side") {
    val out = tmp()
    try {
      assert(SemanticIngestJob.writeBatch(batch1, out, 3, 0.95) == 4)
      assert(SemanticIngestJob.writeBatch(batch2, out, 3, 0.95) == 4)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val store = history(out).get
      val probe = Seq((99L, 0, vec(1.0, 0.0, 0.0, 0.0)))
        .toDF("vec_id", "cell", "v")
      val joined = probe.join(store.select(col("cell"),
        col("vec_id").as("id_small"), col("v").as("v1")), Seq("cell"))
      val plan = joined.queryExecution.executedPlan
      import org.apache.spark.sql.execution.joins.{SortMergeJoinExec, ShuffledHashJoinExec}
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      val storeSide = plan.collectFirst {
        case j: SortMergeJoinExec => j.right
        case j: ShuffledHashJoinExec => j.right
      }
      assert(storeSide.isDefined, plan.toString)
      assert(storeSide.get.collect {
        case e: ShuffleExchangeExec => e
      }.isEmpty, s"store side re-shuffled:\n$plan")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }

  test("streaming file-drop: drains available files through " +
    "foreachBatch") {
    val out = tmp()
    val in = tmp()
    val lines = Seq(
      """{"vec_id": 1, "embedding": [1.0, 0.0, 0.0, 0.0]}""",
      """{"vec_id": 2, "embedding": [0.99, 0.05, 0.0, 0.0]}""",
      """{"vec_id": 3, "embedding": [0.0, 1.0, 0.0, 0.0]}""")
    Files.write(java.nio.file.Paths.get(s"$in/vecs.json"),
      lines.mkString("\n").getBytes)
    val q = SemanticIngestJob.runFiles(spark, in, out, tmp(),
      clusters = 2, threshold = 0.95)
    q.awaitTermination(60000)
    val store = history(out).get
    assert(store.filter(col("kept")).select("vec_id").as[Long]
      .collect().toSet == Set(1L, 3L))
  }

  // ---- freeze-time sizing contract (r12 guard + r13 cap warning) ---

  test("sizedClusters: raises to expectedCorpus/budget, never lowers, " +
    "caps at 4096 exactly when the warning condition binds") {
    assert(SemanticIngestJob.sizedClusters(8, -1L, 4096L) == 8)
    assert(SemanticIngestJob.sizedClusters(8, 0L, 4096L) == 8)
    // 2M at 4096/cell → 489 cells (the decade-bench default)
    assert(SemanticIngestJob.sizedClusters(8, 2000000L, 4096L) == 489)
    // caller's floor wins when larger
    assert(SemanticIngestJob.sizedClusters(600, 2000000L, 4096L) == 600)
    // the 4096 cap binds iff expectedCorpus > 4096·budget — the exact
    // guard the freeze-time warning tests
    assert(SemanticIngestJob.sizedClusters(8, 4096L * 4096L, 4096L) == 4096)
    assert(SemanticIngestJob.sizedClusters(8, 4096L * 4096L + 1, 4096L)
      == 4096)
    assert(SemanticIngestJob.sizedClusters(8, 20000000L, 4096L) == 4096)
  }

  test("freeze + knee warnings actually fire: unsized freeze warns, " +
    "and a store past 2x budget/cell trips the per-batch warning") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.LoggerContext
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val events = collection.mutable.Buffer[String]()
    val app = new AbstractAppender("graft-capture", null, null, true,
      Property.EMPTY_ARRAY) {
      override def append(e: org.apache.logging.log4j.core.LogEvent): Unit =
        events.synchronized { events += e.getMessage.getFormattedMessage }
    }
    app.start()
    // capture at the ROOT LoggerConfig: the job's slf4j logger was
    // created (and its LoggerConfig resolved) long before this test
    // runs, so a per-name LoggerConfig added now is not consulted by
    // the cached instance — the root config demonstrably receives its
    // events via additivity, and the message-content filters below
    // keep the assertions precise
    val ctx = LogManager.getContext(
      SemanticIngestJob.getClass.getClassLoader, false)
      .asInstanceOf[LoggerContext]
    val logName = SemanticIngestJob.getClass.getName // trailing '$'
    val cfg = ctx.getConfiguration
    cfg.getRootLogger.addAppender(app, Level.WARN, null)
    ctx.updateLoggers()
    try {
      // harness self-check: a direct warn through the same logger name
      // must be captured, or every later assertion is meaningless
      org.slf4j.LoggerFactory.getLogger(logName).warn("capture-selfcheck")
      assert(events.exists(_.contains("capture-selfcheck")),
        "log-capture harness is not wired — appender never received " +
          "the self-check event")
      // tiny budget so the knee is reachable with toy batches:
      // 2 frozen cells x budget 4 → tripwire once store > 16 (2x)
      spark.conf.set("spark.graft.semantic.cellBudget", "4")
      val out = tmp()
      def batch(lo: Long) = (lo until lo + 12)
        .map(i => (i, vec(i.toDouble / 100.0, 1.0, 0.0, 0.0)))
        .toDF("vec_id", "embedding")
      // unsized freeze (expectedCorpus unset) → the no-hint warning
      SemanticIngestJob.writeBatch(batch(0), out, clusters = 2,
        threshold = 0.9999)
      assert(events.exists(_.contains("no expectedCorpus hint")),
        s"unsized freeze did not warn; captured: $events")
      // store 12/2 cells = 6 ≤ 8 — no tripwire yet
      SemanticIngestJob.writeBatch(batch(100), out, clusters = 2,
        threshold = 0.9999)
      assert(!events.exists(_.contains("past the measured")),
        "tripwire fired below the knee")
      // store 24/2 = 12 > 8 — next batch must trip
      SemanticIngestJob.writeBatch(batch(200), out, clusters = 2,
        threshold = 0.9999)
      assert(events.exists(_.contains("past the measured")),
        s"knee tripwire did not fire; captured: $events")
      // sized freeze past the cap → the r13 cap-binding warning
      events.clear()
      SemanticIngestJob.writeBatch(batch(0), tmp(), clusters = 2,
        threshold = 0.9999, expectedCorpus = 4096L * 4L + 1)
      assert(events.exists(_.contains("4096-cell cap binds")),
        s"cap warning did not fire; captured: $events")
    } finally {
      spark.conf.unset("spark.graft.semantic.cellBudget")
      cfg.getRootLogger.removeAppender(app.getName)
      ctx.updateLoggers()
      app.stop()
    }
  }
}
