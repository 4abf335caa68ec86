package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one batch Parquet read: every table load, encrypted read and
  * index-artifact read in the engine goes through [[read]], a plain format
  * read whose schema [[PruningParquetFormat]] resolves from Spark's one
  * listing of the path.
  */
object Parquet {

  /** `spark.read.options(options).parquet(path)` through
    * [[PruningParquetFormat]].
    */
  def read(spark: SparkSession, path: String,
      options: Map[String, String] = Map.empty): DataFrame =
    spark.read.format(classOf[PruningParquetFormat].getName).options(options).load(path)
}
