package graft.crawl

import org.apache.spark.SparkConf
import org.scalatest.funsuite.AnyFunSuite

/** `spark.executor.memory` as the fetch broadcast cap reads it: the way
  * Spark reads it, a unitless value in MiB. */
class BroadcastCapSpec extends AnyFunSuite {

  private val MiB = 1024L * 1024L
  private val unset = 123456789L

  test("unitless spark.executor.memory is MiB, as Spark reads it") {
    val conf = new SparkConf(false).set("spark.executor.memory", "4096")
    assert(CrawlEngine.executorHeapBytes(conf, unset) == 4096L * MiB)
  }

  test("spark.executor.memory with a unit") {
    val conf = new SparkConf(false).set("spark.executor.memory", "4g")
    assert(CrawlEngine.executorHeapBytes(conf, unset) == 4096L * MiB)
    val conf2 = new SparkConf(false).set("spark.executor.memory", "512m")
    assert(CrawlEngine.executorHeapBytes(conf2, unset) == 512L * MiB)
  }

  test("unset spark.executor.memory falls back to the given heap") {
    assert(CrawlEngine.executorHeapBytes(new SparkConf(false), unset) == unset)
  }
}
