package graft.core

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The factory's session semantics, pinned on the suites' own
  * factory-built session. */
class GraftSessionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("an invalid cast gives NULL (ANSI off, the reference's semantics)") {
    assert(spark.sql("SELECT cast('abc' AS INT) AS v").first().isNullAt(0))
  }

  test("session timezone is UTC") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
  }

  test("shuffle partitions equal the requested core count") {
    assert(spark.conf.get("spark.sql.shuffle.partitions") ==
      TestSpark.Cores.toString)
  }
}
