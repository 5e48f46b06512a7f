package graft

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.spark.Pipeline

/** Production extraction job (spark-submit main).
  *
  * Usage: ExtractJob <inputDir> <outputDir> [mode]
  *   inputDir   parquet/Iceberg path with the input_hint schema
  *   outputDir  receives `extracted/` (append) and `metrics/` (append)
  *   mode       tagged (default) | geom | legacy
  *
  * Behavior: resumable — urls already present in outputDir/extracted are
  * dropped with a left-anti join before the kernel runs, so re-running
  * after a failure is idempotent. Per-partition lineage rows are appended
  * to the metrics table; the job prints the totals that observe()
  * collects on the `extracted` write as one JSON line.
  * On a real cluster this main is submitted unchanged (the session builder
  * only sets master when none is provided).
  */
object ExtractJob {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ExtractJob <inputDir> <outputDir> [tagged|geom|legacy]")
    val Array(inputDir, outputDir) = args.take(2)
    val mode = if (args.length > 2) args(2) else "tagged"

    val builder = SparkSession.builder().appName(s"graft-extract-$mode")
    val spark =
      (if (sys.props.contains("spark.master") || sys.env.contains("SPARK_MASTER"))
         builder
       else builder
         .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]")
         .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", (8 * 1024 * 1024).toString)
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val input = spark.read.parquet(inputDir)
    val extractedPath = s"$outputDir/extracted"
    val metricsPath = s"$outputDir/metrics"

    // resume: drop urls already extracted (idempotent re-runs)
    val remaining =
      if (pathExists(spark, extractedPath))
        Pipeline.resumeRemaining(input, spark.read.parquet(extractedPath))
      else input

    // the totals ride the `extracted` write: observed above the cache, so
    // the later reads of the cached rows run no further counting job
    val (observed, totals) = Pipeline.observeExtraction(Pipeline.extractMode(spark, remaining, mode))
    val extracted = observed.cache()

    extracted.write.mode(SaveMode.Append).parquet(extractedPath)
    Pipeline.partitionMetrics(spark, extracted)
      .toDF()
      .withColumn("run_ts", current_timestamp())
      .write.mode(SaveMode.Append).parquet(metricsPath)

    val t = totals.get
    println(s"""{"job":"extract","mode":"$mode","docs":${t("docs")},"ok":${t("ok_docs")},"errors":${t("decode_failures")}}""")
    spark.stop()
  }

  private def pathExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }
}
