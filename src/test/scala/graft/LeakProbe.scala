package graft

import org.apache.spark.sql.SparkSession

/** Persisted-RDD leak checks that a GC cannot fool. */
object LeakProbe {

  /** RDDs that `f` persists and does not release, read from listener
    * events: every stage that computes or reads a persisted RDD reports its
    * storage level, and every release posts an unpersist event. The
    * registry (`getPersistentRDDs`) cannot tell this alone: it holds RDDs
    * weakly, so a GC drops a leaked RDD from it as if it were released.
    * The ContextCleaner would release a collected RDD and post the same
    * unpersist event, so the session must run without it
    * (`spark.cleaner.referenceTracking=false`). Counted as a delta against
    * the registry taken before the call; `f` may throw (wrap it in
    * `intercept`), the probe still reads every event it posted. */
  def leakedBy(spark: SparkSession)(f: => Unit): Set[Int] = {
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    require(!sc.getConf.getBoolean("spark.cleaner.referenceTracking", true),
      "leakedBy needs spark.cleaner.referenceTracking=false: the cleaner's releases would hide leaks")
    val before = sc.getPersistentRDDs.keySet.toSet
    val persisted, released = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val barrier = new java.util.concurrent.CountDownLatch(1)
    @volatile var barrierJob = -1
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        e.stageInfo.rddInfos.filter(_.storageLevel.isValid).foreach(i => persisted.add(i.id))
      override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = released.add(e.rddId)
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == "barrier")
          barrierJob = e.jobId
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == barrierJob) barrier.countDown()
    }
    sc.addSparkListener(listener)
    try {
      f
      // the bus delivers in order: once the barrier job's end arrives,
      // every event the call posted has been seen
      sc.setJobGroup("barrier", "listener barrier")
      sc.parallelize(Seq(1), 1).count()
      sc.clearJobGroup()
      assert(barrier.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener barrier")
    } finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    persisted.asScala.toSet -- before -- released.asScala
  }
}
