package graft.plans

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.core.GraftSession

class GraftExtensionsSpec extends AnyFunSuite {

  // Extensions apply at session construction: clear the default/active
  // bookkeeping so getOrCreate builds a NEW SparkSession (sharing the
  // JVM's SparkContext) with the extensions installed. Other suites
  // keep their direct reference to the shared TestSpark session.
  private lazy val spark: SparkSession = {
    graft.TestSpark.spark // ensure the shared context exists first
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    val s = GraftSession.builder(graft.TestSpark.Cores, "graft-extensions-test")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    // getOrCreate promoted this session to the JVM default; restore the
    // shared one so suites on threads WITHOUT an active session (where
    // SQLConf.get falls back to the default) keep TestSpark's configs
    SparkSession.setDefaultSession(graft.TestSpark.spark)
    s
  }

  test("custom kernels callable from SQL") {
    val row = spark.sql(
      """SELECT
        |  graft_word_shingles(array('a','b','c'), 2) AS ws,
        |  graft_char_shingles('abcd', 3) AS cs,
        |  size(graft_minhash_sig(array('x','y'), 16)) AS sig_len,
        |  graft_simhash64(array('tok')) AS sh,
        |  graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS dot,
        |  round(graft_cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D)), 6) AS cos,
        |  graft_fingerprint(array('a','b')) AS fp,
        |  graft_unicode_normalize('é', 'NFC') AS nfc,
        |  graft_interleave_bits(3L, 5L, 8) AS z
        |""".stripMargin).first()
    assert(row.getAs[collection.Seq[String]]("ws").toSet == Set("a b", "b c"))
    assert(row.getAs[collection.Seq[String]]("cs").toSet == Set("abc", "bcd"))
    assert(row.getAs[Int]("sig_len") == 16)
    assert(row.getAs[Long]("sh") != 0L)
    assert(row.getAs[Double]("dot") == 11.0)
    assert(row.getAs[Double]("cos") == 1.0)
    assert(row.getAs[Long]("fp") != 0L)
    assert(row.getAs[String]("nfc") == "é") // e + combining acute → é
    assert(row.getAs[Long]("z") == 39L) // (3,5) interleaved, a on even bits
  }

  test("band-join SQL plans as an equi join and matches the naive answer") {
    import spark.implicits._
    Seq((1L, 10L, 0L), (1L, 11L, 1000L), (2L, 20L, 5000L))
      .toDF("k", "a_id", "a_us").createOrReplaceTempView("ta")
    Seq((1L, 100L, 300L), (1L, 101L, 1400L), (2L, 200L, 9000L))
      .toDF("k", "b_id", "b_us").createOrReplaceTempView("tb")

    val sqlText =
      """SELECT a_id, b_id FROM ta JOIN tb
        |  ON ta.k = tb.k AND abs(a_us - b_us) <= 500""".stripMargin
    val df = spark.sql(sqlText)

    // the rewrite fired: bucketed generate + no nested-loop join
    val optimized = df.queryExecution.optimizedPlan.toString()
    assert(optimized.contains("_graft_range_rb"), optimized)
    val physical = df.queryExecution.executedPlan.toString()
    assert(!physical.contains("NestedLoopJoin"), physical)
    assert(!physical.contains("CartesianProduct"), physical)

    val got = df.as[(Long, Long)].collect().sorted.toSeq
    // naive answer: (10,100) diff 300; (11,101) diff 400; (20,200) diff 4000 ✗
    assert(got == Seq((10L, 100L), (11L, 101L)))

    // pure band join (no equi key) must also avoid the cartesian path
    val noKey = spark.sql(
      "SELECT a_id, b_id FROM ta JOIN tb ON abs(a_us - b_us) < 500")
    val noKeyPlan = noKey.queryExecution.executedPlan.toString()
    assert(!noKeyPlan.contains("NestedLoopJoin"), noKeyPlan)
    assert(noKey.as[(Long, Long)].collect().sorted.toSeq ==
      Seq((10L, 100L), (11L, 101L)))
  }
}
