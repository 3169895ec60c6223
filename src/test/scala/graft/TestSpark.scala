package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** The one place the test suite builds a Spark session. Two kinds exist:
  * `shared`, which every `SharedSpark` suite reuses, and `isolated`, a
  * context of its own for a test that fixes the master or counts persisted
  * RDDs. The disabled UI and the UTC session time zone come from the
  * forked test JVM's system properties (build.sbt), not from here. */
object TestSpark {

  private var current: SparkSession = _

  /** local[4], 4 shuffle partitions. The ContextCleaner stays on: pipeline
    * checkpoints are reclaimed by GC. Rebuilt when an isolated context
    * stopped it. */
  def shared: SparkSession = synchronized {
    if (current == null || current.sparkContext.isStopped) current = build("local[4]", 4, cleaner = true)
    current
  }

  /** Runs `f` on a fresh context of its own and stops it when `f` returns
    * or throws. */
  def isolated[T](master: String = "local[4]", partitions: Int = 4)(f: SparkSession => T): T = {
    val spark = isolatedSession(master, partitions)
    try f(spark)
    finally spark.stop()
  }

  /** A fresh context the caller stops. The ContextCleaner is off, as
    * `LeakProbe.leakedBy` requires: an RDD leaves the registry only when the
    * code under test releases it. */
  def isolatedSession(master: String = "local[4]", partitions: Int = 4): SparkSession = synchronized {
    build(master, partitions, cleaner = false)
  }

  /** Stops every live session first: `getOrCreate` would otherwise hand it
    * back and ignore `master` and the cleaner setting. */
  private def build(master: String, partitions: Int, cleaner: Boolean): SparkSession = {
    (SparkSession.getActiveSession ++ SparkSession.getDefaultSession).foreach(_.stop())
    val s = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.cleaner.referenceTracking", cleaner.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** A suite on the shared session. */
trait SharedSpark {
  protected lazy val spark: SparkSession = TestSpark.shared
}

/** A suite that holds one isolated context for all its tests and stops it
  * after the last, so later suites never inherit a context without the
  * ContextCleaner. */
trait IsolatedSpark extends BeforeAndAfterAll { this: Suite =>
  protected lazy val spark: SparkSession = TestSpark.isolatedSession()

  override def afterAll(): Unit = spark.stop()
}
