package graft.core

import org.apache.spark.sql.SparkSession

import graft.GraftExtensions

/**
 * The one way the engine's mains (and the test fixture) build a
 * session: `local[cores]` with as many shuffle partitions as cores,
 * UTC session time, no UI, TIMESTAMP(NANOS) parquet read as long
 * (events.parquet carries it; Spark 4 reads it no other way), and the
 * engine's SQL functions ([[GraftExtensions]]) installed at creation.
 */
object Sessions {
  def local(cores: Int, appName: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
