package graft.streaming

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming.Trigger

/** The streaming package's one I/O module. Every twin gets its
  * exactly-once contract from the same recipe (Structured Streaming,
  * SIGMOD 2018): a checkpointed parquet file source, an AvailableNow
  * trigger and an append-mode parquet sink ([[drain]]); and every twin
  * reads its sink back the same way ([[read]]). */
object SinkIO {

  /** The file source over `inputDir` with `In`'s schema, at most
    * `filesPerBatch` files per micro-batch. */
  def source[In <: Product: TypeTag](
      spark: SparkSession, inputDir: String, filesPerBatch: Int): DataFrame =
    spark.readStream
      .schema(Encoders.product[In].schema)
      .option("maxFilesPerTrigger", filesPerBatch.toString)
      .parquet(inputDir)

  /** Drain every file currently in `inputDir` through `plan` into the
    * parquet sink at `outputDir`, exactly once: the checkpoint skips files
    * an earlier drain committed, so a rerun with no new files writes
    * nothing. `plan` gets the untyped source, so event-time twins can
    * apply `withWatermark` before going typed. Returns once drained. */
  def drain[In <: Product: TypeTag](
      spark: SparkSession,
      inputDir: String,
      filesPerBatch: Int,
      outputDir: String,
      checkpointDir: String
  )(plan: DataFrame => Dataset[_]): Unit =
    plan(source[In](spark, inputDir, filesPerBatch)).writeStream
      .format("parquet")
      .option("path", outputDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()

  /** A static parquet input's `T` columns. Unlike a sink, it must exist. */
  def input[T <: Product: TypeTag](spark: SparkSession, path: String): DataFrame =
    spark.read.schema(Encoders.product[T].schema).parquet(path)

  /** A sink's committed rows with `T`'s schema. A sink dir that does not
    * exist, or exists with no committed data files (killed before the
    * first batch commit), reads as EMPTY with that schema — never a
    * schema-inference or path error. The existence probe goes through the
    * Hadoop FileSystem resolved from the path's own URI, so `hdfs://`-style
    * sinks work like local dirs (a `java.io.File` probe silently reads any
    * remote sink as absent). */
  def read[T <: Product: TypeTag](spark: SparkSession, dir: String): DataFrame = {
    val schema = Encoders.product[T].schema
    val path = new org.apache.hadoop.fs.Path(dir)
    if (!path.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(path))
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(schema).parquet(dir)
  }
}
