package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite
import graft.graph.PageRank

/** The driver-held rank vector regime against the DataFrame loop it
  * replaces below the broadcast bound (reached here by lowering the
  * bound to 0), and the one-job-per-round contract. */
class PageRankRegimeSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  // dangling nodes E and G, a self-loop on C, a duplicate A→B, and
  // E / G appearing only as dst
  private def graph: DataFrame = Seq(("A", "B"), ("A", "C"), ("B", "C"),
    ("C", "A"), ("C", "C"), ("A", "B"), ("D", "A"), ("B", "E"), ("C", "G"))
    .toDF("src", "dst")

  private def both[A](edges: DataFrame, seeds: Option[DataFrame],
                      arith: PageRank.Arith[A]): (DataFrame, DataFrame) =
    (PageRank.loop(edges, seeds, 12, arith),
      PageRank.loop(edges, seeds, 12, arith, vectorMaxNodes = 0L))

  private def scores(df: DataFrame): Map[Any, Any] =
    df.collect().map(r => r.get(0) -> r.get(1)).toMap

  test("scaled uniform and personalized: the vector regime is " +
    "bit-identical to the DataFrame loop") {
    val scaled = PageRank.Scaled(1000000000000L)
    for (seeds <- Seq(None, Some(Seq("A", "E", "Z").toDF("node")))) {
      val (vec, frame) = both(graph, seeds, scaled)
      assert(vec.schema.map(_.dataType) == frame.schema.map(_.dataType))
      val v = scores(vec)
      assert(v.keySet == Set("A", "B", "C", "D", "E", "G"))
      assert(v == scores(frame), s"seeds $seeds")
    }
    // a null address is a node: edges out of it never join a rank, edges
    // into it still add to its score — the same in both regimes
    val nulls = Seq(("A", "B"), ("A", null), ("B", "C"), (null, "A"),
      ("C", "A"), ("C", null)).toDF("src", "dst")
    val (vec, frame) = both(nulls, None, scaled)
    assert(scores(vec).keySet == Set("A", "B", "C", null))
    assert(scores(vec) == scores(frame))
  }

  test("double uniform and personalized: the regimes agree within " +
    "1e-12 relative") {
    for (seeds <- Seq(None, Some(Seq("B", "G").toDF("node")))) {
      val (vec, frame) = both(graph, seeds, PageRank.Fractional(0.85))
      assert(vec.schema.map(_.dataType) == frame.schema.map(_.dataType))
      val v = scores(vec)
      val f = scores(frame)
      assert(v.keySet == f.keySet)
      v.foreach { case (k, x: Double) =>
        val y = f(k).asInstanceOf[Double]
        assert(math.abs(x - y) <= 1e-12 * math.abs(y), s"$k: $x vs $y")
      }
    }
  }

  test("the vector regime returns the input's address type") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val (vec, frame) = both(edges, None, PageRank.Scaled(1000000L))
    assert(vec.schema.map(_.dataType) == Seq(LongType, LongType))
    assert(frame.schema.map(_.dataType) == Seq(LongType, LongType))
    assert(scores(vec) == scores(frame))
  }

  test("empty graph: both regimes return an empty result") {
    val empty = Seq.empty[(String, String)].toDF("src", "dst")
    val (vec, frame) = both(empty, None, PageRank.Fractional(0.85))
    assert(vec.count() == 0 && frame.count() == 0)
  }

  test("seeds disjoint from the graph still fail the require") {
    val seeds = Seq("X", "Y").toDF("node")
    intercept[IllegalArgumentException] {
      PageRank.runScaledPersonalized(graph, seeds, iterations = 5)
    }
    intercept[IllegalArgumentException] {
      PageRank.loop(graph, Some(seeds), 5, PageRank.Scaled(1000L),
        vectorMaxNodes = 0L)
    }
  }

  test("one Spark job per round") {
    def jobs(iterations: Int): Int =
      sparkJobs(PageRank.run(graph, iterations = iterations).collect())
    val five = jobs(5)
    val ten = jobs(10)
    assert(ten - five == 5, s"5 rounds: $five jobs, 10 rounds: $ten jobs")
  }
}
