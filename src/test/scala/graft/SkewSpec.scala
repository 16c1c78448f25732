package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.Skew

class SkewSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("salted join is row-identical to the plain join on a hot key") {
    // hot key: one orderkey carries 80% of the left side
    val left = (Seq.fill(400)(1L) ++ (2L to 100L)).zipWithIndex
      .map { case (k, i) => (k, i.toLong) }.toDF("k", "payload")
    val right = (1L to 100L).map(k => (k, s"dim$k")).toDF("k", "name")
    val plain = left.join(right, Seq("k"))
      .select("k", "payload", "name")
      .as[(Long, Long, String)].collect().sorted.toSeq
    val salted = Skew.saltedJoin(left, right, Seq("k"), 8)
      .select("k", "payload", "name")
      .as[(Long, Long, String)].collect().sorted.toSeq
    assert(salted == plain)
  }

  test("salted sum equals plain grouped sum") {
    val df = (Seq.fill(500)("hot") ++ Seq("a", "b", "c"))
      .zipWithIndex.map { case (k, i) => (k, i.toLong) }
      .toDF("k", "v")
    val plain = df.groupBy("k").agg(sum("v").as("v"))
      .as[(String, Long)].collect().toMap
    val salted = Skew.saltedSum(df, Seq("k"), "v", 8)
      .as[(String, Long)].collect().toMap
    assert(salted == plain)
  }

  test("salting is deterministic across retries (hash salt, no RNG)") {
    val df = (1L to 50L).map(k => (k % 3, k)).toDF("k", "v")
    val right = (0L to 2L).map(k => (k, s"d$k")).toDF("k", "name")
    val a = Skew.saltedJoin(df, right, Seq("k"), 4)
      .as[(Long, Long, String)].collect().sorted.toSeq
    val b = Skew.saltedJoin(df, right, Seq("k"), 4)
      .as[(Long, Long, String)].collect().sorted.toSeq
    assert(a == b)
  }
}
