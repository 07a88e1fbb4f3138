package graft.plans

import org.apache.spark.SparkConf
import org.apache.spark.sql.functions.{col, lit}

import graft.SparkSpec
import graft.obs.Obs

/** Spark's compiled-class cache in a graft session: [[GraftExtensions]]
  * sizes it to graft's working set, so a warm session compiles nothing it
  * already ran. */
class CodegenReuseSpec extends SparkSpec {
  import GraftExtensions.{CodegenCacheEntries, CodegenCacheKey, defaultCodegenCache}

  test("the shared session reports graft's codegen cache size") {
    assert(spark.conf.get(CodegenCacheKey) == CodegenCacheEntries.toString)
  }

  test("a second pass over 150 distinct generated classes compiles none") {
    // each projection inlines its own literal, so each compiles its own
    // class; at Spark's default of 100 entries the LRU evicts every class
    // before the next pass reaches it, and that pass compiles them all again
    val plans = (0 until 150).map { i =>
      spark.range(0, 1, 1, 1).select((col("id") + lit(1000L + i)).as("v"))
    }
    def pass(): Long = Obs.measure(spark)(plans.foreach(_.collect()))._2.compiles
    val first = pass()
    assert(first >= 150, s"the first pass compiled only $first classes")
    assert(pass() == 0)
  }

  test("the default leaves a conf that already sets the key unchanged") {
    val own = new SparkConf(false).set(CodegenCacheKey, "7")
    assert(defaultCodegenCache(own).get(CodegenCacheKey) == "7")
    assert(defaultCodegenCache(new SparkConf(false)).get(CodegenCacheKey) ==
      CodegenCacheEntries.toString)
  }
}
