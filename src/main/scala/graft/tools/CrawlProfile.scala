package graft.tools

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Per-wave phase profiler for the bench-scale BFS crawl: runs Bench's
  * crawl_e2e shape with the engine's log callback wired to stdout, so each
  * wave's politeness-select / fetch+extract / commit timestamps are visible
  * — the tool for deciding which per-wave driver action to fold next.
  * Every line also carries the counters since the previous line: Spark
  * jobs started, generated classes compiled and Janino seconds (a wave
  * whose plans all hit Spark's codegen cache compiles none).
  *
  * usage: `sbt "runMain graft.tools.CrawlProfile"` (SPARK_GRAFT_CPUS sets
  * local[n], default 32). */
object CrawlProfile {

  /** Jobs started, classes compiled and Janino seconds since the last
    * `delta()` call (the first call counts from construction). Jobs come
    * from a listener, so a job started just before a call may land in the
    * next delta. */
  final class Counters(spark: SparkSession) {
    private val jobs = new AtomicLong
    private val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    private var last = (0L, compiled, CodeGenerator.compileTime)

    private def compiled: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

    def delta(): (Long, Long, Double) = synchronized {
      val now = (jobs.get, compiled, CodeGenerator.compileTime)
      val d = (now._1 - last._1, now._2 - last._2, (now._3 - last._3) / 1e9)
      last = now
      d
    }

    def close(): Unit = spark.sparkContext.removeSparkListener(listener)
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.parquet.columnarReaderBatchSize",
        sys.env.getOrElse("SPARK_GRAFT_READER_BATCH", "256"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val corpusPath = java.nio.file.Files.createTempDirectory("graft-profile-corpus").toString + "/pages"
    graft.gen.CorpusGen.writeParquet(spark, graft.Bench.benchSpec, corpusPath, partitions = cpus.toInt * 2)
    val pages = spark.read.parquet(corpusPath).as[graft.model.PageRow]
    val stateDir = java.nio.file.Files.createTempDirectory("graft-profile-crawl").toString
    val counters = new Counters(spark)
    counters.delta()
    val t0 = System.nanoTime()
    val summary = graft.crawl.CrawlEngine.run(spark, pages, graft.Bench.benchConfig, stateDir,
      log = { s =>
        val (jobs, classes, janino) = counters.delta()
        println(f"[profile +${(System.nanoTime() - t0) / 1e9}%6.2fs jobs=$jobs%3d classes=$classes%3d " +
          f"janino=$janino%5.2fs] $s")
      })
    val (jobs, classes, janino) = counters.delta()
    println(f"[profile] total=${(System.nanoTime() - t0) / 1e9}%.2fs fetched=${summary.fetchedTotal} " +
      f"waves=${summary.waves} (after the last line: jobs=$jobs classes=$classes janino=$janino%.2fs)")
    counters.close()
    spark.stop()
  }
}
