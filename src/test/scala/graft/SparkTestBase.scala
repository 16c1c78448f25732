package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs — one per suite (lazy). */
trait SparkTestBase { self: AnyFunSuite =>
  lazy val spark: SparkSession = GraftSession.builder(GraftSession.cpus)
    .appName("graft-test")
    .config("spark.sql.warehouse.dir",
      s"/tmp/graft_warehouse_${sys.props.getOrElse("user.name", "u")}")
    .getOrCreate()
}
