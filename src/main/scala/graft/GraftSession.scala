package graft
import org.apache.spark.sql.SparkSession
/** The one session configuration every graft main and spec starts from,
  * so the bench, the correctness dump and the tests cannot drift apart.
  * Callers add only what is theirs (an app name, a warehouse dir). */
object GraftSession {
  /** Local cores to run on: `SPARK_GRAFT_CPUS`, default 4. */
  val cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def builder(cpus: Int): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    // Spark's generated-class cache defaults to 100 entries; the bench
    // suite compiles far more (137 queries, iterative families
    // codegen fresh plans per round), so the LRU thrashes and big
    // plans recompile at their timed run — measured q106 19.3 s
    // (evicted) vs 7.1 s (cached), whole-suite 146 s → 109 s. Any
    // production cluster running a workload this wide would raise it.
    .config("spark.sql.codegen.cache.maxEntries", "5000")
}
