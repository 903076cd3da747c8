package graft.engine

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.SparkSession

/** The one way engine code reaches a Hadoop filesystem: the filesystem
  * that serves `path`'s scheme, configured by the session's Hadoop conf. */
object Fs {
  def of(spark: SparkSession, path: String): FileSystem =
    FileSystem.get(new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
}
