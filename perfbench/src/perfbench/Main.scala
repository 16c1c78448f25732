package perfbench

import java.io.File
import java.nio.file.Files
import scala.collection.mutable
import scala.util.control.NonFatal
import com.fasterxml.jackson.core.JsonGenerator
import com.fasterxml.jackson.databind.{ObjectMapper, SerializerProvider}
import com.fasterxml.jackson.databind.module.SimpleModule
import com.fasterxml.jackson.databind.ser.std.StdSerializer
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** What one workload run hands back: operations attempted and failed,
  * output checks, end-to-end metrics (untraced run) or per-layer metrics
  * (traced run), and the conditions it ran under. */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val info = mutable.LinkedHashMap.empty[String, Any]
  var timedStart = Double.NaN
  var timedEnd = Double.NaN
  var peakRssMb = Double.NaN
  var heapRetainedMb = Double.NaN

  /** One operation of the workload (a batch, a tick, a query). A throw
    * counts as a failure, never as a timing. */
  def attempt[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body) catch {
      case NonFatal(e) =>
        failed += 1
        errors += s"$what: ${e.getClass.getName}: ${e.getMessage}".take(2000)
        None
    }
  }

  def check(name: String, ok: Boolean, detail: String): Unit =
    checks += Map("name" -> name, "ok" -> ok, "detail" -> detail)

  def startTimed(): Unit = timedStart = Trace.nowMs()
  /** Closes the timed region; then records peak RSS and the heap still in
    * use after a full collection (what the workload retains). */
  def endTimed(): Unit = {
    timedEnd = Trace.nowMs()
    peakRssMb = Host.peakRssMb()
    System.gc()
    heapRetainedMb = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / Trace.MB
  }
}

/** Everything a workload needs. `trace` is set on the traced run. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Int,
                     trace: Option[Trace], work: String, dataDir: String)

object Host {
  private def procField(file: String, key: String): Option[Double] =
    scala.util.Try {
      val src = scala.io.Source.fromFile(file)
      try src.getLines().find(_.startsWith(key)).map(_.split("\\s+")(1).toDouble)
      finally src.close()
    }.toOption.flatten

  def peakRssMb(): Double = procField("/proc/self/status", "VmHWM:").map(_ / 1024.0).getOrElse(Double.NaN)
  def memTotalMb(): Double = procField("/proc/meminfo", "MemTotal:").map(_ / 1024.0).getOrElse(Double.NaN)
  def load(): Seq[Double] = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/loadavg")
    try src.mkString.split(" ").take(2).map(_.toDouble).toSeq finally src.close()
  }.getOrElse(Seq(Double.NaN, Double.NaN))
  /** The machine's CPU time counters (user … steal), in ticks. */
  def cpuTicks(): Seq[Double] = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().split("\\s+").slice(1, 9).map(_.toDouble).toSeq finally src.close()
  }.getOrElse(Nil)
  /** Share of CPU time between two `cpuTicks` readings that the hypervisor
    * gave to other machines: the host contention a run saw. */
  def stealShare(before: Seq[Double], after: Seq[Double]): Double =
    if (before.size < 8 || after.size < 8) Double.NaN
    else {
      val d = after.zip(before).map { case (a, b) => a - b }
      if (d.sum > 0) d(7) / d.sum else Double.NaN
    }
}

/** Benchmark entry, run by perfbench/run.py:
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work <dir> --out <result.json> --t0 <epoch ms>
  *                  [--data <dir>]
  * `--t0` is when set-up began (after the build); the result file carries
  * the metrics, checks, conditions and, on the traced run, the spans. */
object Main {
  val Workloads: Map[String, Ctx => Outcome] = Map(
    "chain_flow" -> ChainWorkloads.chainFlow,
    "query_suite" -> QuerySuite.run)

  /** Writes the result file; JSON has no encoding for NaN or infinities,
    * so those are written as null. */
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)
    .registerModule(new SimpleModule().addSerializer(classOf[java.lang.Double],
      new StdSerializer[java.lang.Double](classOf[java.lang.Double]) {
        override def serialize(d: java.lang.Double, g: JsonGenerator, p: SerializerProvider): Unit =
          if (d.isNaN || d.isInfinite) g.writeNull() else g.writeNumber(d.doubleValue)
      }))

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val t0 = opt("t0").toDouble
    val nproc = Runtime.getRuntime.availableProcessors()
    val loadBefore = Host.load()
    val ticksBefore = Host.cpuTicks()
    val work = opt("work")

    val sessionStart = Trace.nowMs()
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (Trace.nowMs() - sessionStart) / 1000.0

    val traced = opt("trace") == "1"
    val trace = if (traced) Some(new Trace(spark)) else None
    val ctx = Ctx(spark, opt("seed").toLong, opt("seconds").toInt, trace, work,
      opt.getOrElse("data", ""))
    val o = try Workloads(workload)(ctx) catch {
      case NonFatal(e) =>
        val o = new Outcome
        o.attempted += 1; o.failed += 1
        o.errors += s"workload: ${e.getClass.getName}: ${e.getMessage}"
        o
    }
    trace.foreach(_.close())

    val setupS = (o.timedStart - t0) / 1000.0
    o.e2e("setup_s") = setupS
    o.layers("jvm.peak_rss_mb") = o.peakRssMb
    o.layers("jvm.heap_retained_mb") = o.heapRetainedMb
    val spans = trace.map(_.allSpans).getOrElse(Nil)
    val result = Map(
      "workload" -> workload,
      "traced" -> traced,
      "attempted" -> o.attempted,
      "failed" -> o.failed,
      "errors" -> o.errors.toSeq,
      "checks" -> o.checks.toSeq,
      "e2e" -> o.e2e,
      "layers" -> o.layers,
      "conditions" -> (mutable.LinkedHashMap[String, Any](
        "nproc" -> nproc,
        "mem_total_mb" -> Host.memTotalMb(),
        "load_1m_5m_before" -> loadBefore,
        "load_1m_5m_after" -> Host.load(),
        "cpu_steal_share" -> Host.stealShare(ticksBefore, Host.cpuTicks()),
        "spark_master" -> spark.sparkContext.master,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "spark_version" -> spark.version,
        "seed" -> ctx.seed,
        "seconds" -> ctx.seconds,
        "setup_session_s" -> sessionS,
        "peak_rss_mb" -> o.peakRssMb,
        "heap_retained_mb" -> o.heapRetainedMb,
        "timed_s" -> (o.timedEnd - o.timedStart) / 1000.0) ++ o.info),
      "spans" -> spans.map(s => Trace.spanJson(s, spans)))
    Files.write(new File(opt("out")).toPath, json.writeValueAsBytes(result))
    spark.stop()
    System.exit(0)
  }
}
