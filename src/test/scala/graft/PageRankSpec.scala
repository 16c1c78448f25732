package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.graph.PageRank

class PageRankSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("3-cycle converges to uniform 1/3") {
    val edges = Seq(("A", "B"), ("B", "C"), ("C", "A")).toDF("src", "dst")
    val scores = PageRank.run(edges, iterations = 10).as[(String, Double)]
      .collect().toMap
    assert(scores.size == 3)
    scores.values.foreach(s => assert(math.abs(s - 1.0 / 3) < 1e-9))
  }

  test("dangling node: one iteration matches hand computation") {
    // A→B, B dangling. r0 = (.5,.5); dangling mass = .5
    // r1(A) = .15/2 + .85·(0 + .25)        = .2875
    // r1(B) = .15/2 + .85·(.5 + .25)       = .7125
    val edges = Seq(("A", "B")).toDF("src", "dst")
    val scores = PageRank.run(edges, iterations = 1).as[(String, Double)]
      .collect().toMap
    assert(math.abs(scores("A") - 0.2875) < 1e-12)
    assert(math.abs(scores("B") - 0.7125) < 1e-12)
  }

  test("convergence early exit: a cycle is converged from iteration 1 " +
    "and stops there with ranks identical to the full schedule") {
    // directed 4-cycle: out_deg 1 everywhere, ranks are exactly 1/4
    // from init on — the L1 delta is 0.0 after the first materialized
    // iteration, so a tolerance run must exit immediately
    val edges = Seq(("A", "B"), ("B", "C"), ("C", "D"), ("D", "A"))
      .toDF("src", "dst")
    var iters = 0
    val early = PageRank.run(edges, iterations = 30, tolerance = 1e-12,
      onIter = (_, _) => iters += 1).as[(String, Double)].collect().toMap
    assert(iters <= 2, s"expected early exit, ran $iters iterations")
    val full = PageRank.run(edges, iterations = 30)
      .as[(String, Double)].collect().toMap
    assert(early == full, "early-exit ranks must equal the full run's")
    // scaled variant: same contract in fixed-point
    var scaledIters = 0
    val earlyScaled = PageRank.runScaled(edges, iterations = 30,
      toleranceScaled = 1L, onIter = (_, _) => scaledIters += 1)
      .as[(String, Long)].collect().toMap
    assert(scaledIters <= 2)
    assert(earlyScaled ==
      PageRank.runScaled(edges, iterations = 30)
        .as[(String, Long)].collect().toMap)
  }

  test("convergence early exit: a mixing graph stops once the delta is " +
    "under tolerance, close to the fixed-schedule ranks") {
    val edges = Seq(("A", "B"), ("A", "C"), ("B", "C"), ("C", "A"),
      ("D", "A"), ("B", "D")).toDF("src", "dst")
    var iters = 0
    val early = PageRank.run(edges, iterations = 60, tolerance = 1e-10,
      onIter = (_, _) => iters += 1).as[(String, Double)].collect().toMap
    assert(iters < 59, s"no early exit in $iters iterations")
    val full = PageRank.run(edges, iterations = 60)
      .as[(String, Double)].collect().toMap
    full.foreach { case (k, v) =>
      assert(math.abs(early(k) - v) < 1e-8, s"$k drifted") }
    // tolerance 0 (the default) never exits early: bit-exact schedule
    var fixedIters = 0
    PageRank.run(edges, iterations = 5,
      onIter = (_, _) => fixedIters += 1).collect()
    assert(fixedIters == 5) // every driver-vector round is eager
  }

  test("mass conservation: scores sum to 1 with dangling redistribution") {
    val edges = Seq(("A", "B"), ("A", "C"), ("B", "C"), ("D", "A"))
      .toDF("src", "dst")
    val total = PageRank.run(edges, iterations = 7)
      .agg(org.apache.spark.sql.functions.sum("score")).as[Double].head()
    assert(math.abs(total - 1.0) < 1e-9)
  }

  test("scaled variant tracks the float variant within truncation error") {
    val edges = Seq(("A", "B"), ("A", "C"), ("B", "C"), ("D", "A"),
      ("C", "D")).toDF("src", "dst")
    val f = PageRank.run(edges, iterations = 10).as[(String, Double)]
      .collect().toMap
    val s = PageRank.runScaled(edges, iterations = 10).as[(String, Long)]
      .collect().toMap
    assert(s.keySet == f.keySet)
    // per-step truncation < N/scale compounds to well under 1e-9 here
    s.foreach { case (k, v) =>
      assert(math.abs(v / 1e12 - f(k)) < 1e-6, s"node $k: $v vs ${f(k)}")
    }
  }

  test("scaled variant: dangling one-iteration hand computation, exact") {
    // scale=100 for hand math: r0 = 50,50; dangling mass 50, N=2
    // contrib(B) = 50 div 1 = 50; dm div N = 25; base = 100 div 2 = 50
    // r1(A) = (15*50 + 85*(0  + 25)) div 100 = (750 + 2125)  div 100 = 28
    // r1(B) = (15*50 + 85*(50 + 25)) div 100 = (750 + 6375)  div 100 = 71
    val edges = Seq(("A", "B")).toDF("src", "dst")
    val s = PageRank.runScaled(edges, iterations = 1, scale = 100L)
      .as[(String, Long)].collect().toMap
    assert(s == Map("A" -> 28L, "B" -> 71L))
  }

  test("personalized: teleport and dangling mass go only to seeds") {
    // chain 1→2→3, seed {1}; hand-computed first three rounds
    val edges = Seq(("1", "2"), ("2", "3")).toDF("src", "dst")
    val seeds = Seq("1").toDF("node")
    val scaled = PageRank.runScaledPersonalized(edges, seeds,
      iterations = 3, scale = 1000000000000L)
      .as[(String, Long)].collect().toMap
    // float recurrence: r3 = (0.764125, 0.1275, 0.108375)
    assert(math.abs(scaled("1") / 1e12 - 0.764125) < 1e-9, scaled)
    assert(math.abs(scaled("2") / 1e12 - 0.1275) < 1e-9, scaled)
    assert(math.abs(scaled("3") / 1e12 - 0.108375) < 1e-9, scaled)
    // mass conservation (up to integer truncation)
    assert(math.abs(scaled.values.sum - 1000000000000L) < 1000L)
  }

  test("personalized float variant matches the scaled one") {
    val edges = Seq(("1", "2"), ("2", "3"), ("3", "1"), ("1", "3"))
      .toDF("src", "dst")
    val seeds = Seq("2").toDF("node")
    val f = PageRank.runPersonalized(edges, seeds, iterations = 8)
      .as[(String, Double)].collect().toMap
    val s = PageRank.runScaledPersonalized(edges, seeds, iterations = 8)
      .as[(String, Long)].collect().toMap
    f.foreach { case (k, v) =>
      assert(math.abs(v - s(k) / 1e12) < 1e-6, s"$k: $v vs ${s(k)}")
    }
    // restart mass keeps the seed at or above the teleport floor, and
    // total mass is conserved
    assert(f("2") >= 0.15 - 1e-9)
    assert(math.abs(f.values.sum - 1.0) < 1e-9)
  }

  test("ranked extract is descending with stable ties") {
    val edges = Seq(("A", "C"), ("B", "C")).toDF("src", "dst")
    val ranked = PageRank.ranked(PageRank.run(edges, iterations = 5))
      .as[(String, Double)].collect()
    assert(ranked.head._1 == "C")
    assert(ranked.map(_._2).sliding(2).forall(p => p(0) >= p(1)))
  }
}
